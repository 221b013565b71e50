"""Golden tests for the markdown → Notion-block parser and the
store-blocks plan (reference behavior store_notion_blocks.py:115-137)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from mediawiki_to_notion_spark.functions.markdown_blocks import parse_markdown_blocks
from mediawiki_to_notion_spark.plans.pipeline import store_blocks

SAMPLE_MD = """# Title

Intro paragraph spanning
two source lines.

## Section

- item one
- item two

<!-- -->

1. first
2. second

> quoted line

```python
x = 1
y = 2
```

![alt text](img.png)

---

Tail text.
"""


def test_parser_golden():
    blocks = parse_markdown_blocks(SAMPLE_MD)
    got = [(b["type"], b["title"]) for b in blocks]
    assert got == [
        ("header", "Title"),
        ("text", "Intro paragraph spanning two source lines."),
        ("sub_header", "Section"),
        ("bulleted_list", "item one"),
        ("bulleted_list", "item two"),
        ("numbered_list", "first"),
        ("numbered_list", "second"),
        ("quote", "quoted line"),
        ("code", "x = 1\ny = 2"),
        ("image", "alt text"),
        ("divider", ""),
        ("text", "Tail text."),
    ]
    code = [b for b in blocks if b["type"] == "code"][0]
    assert code["language"] == "python"
    img = [b for b in blocks if b["type"] == "image"][0]
    assert img["source"] == "img.png"


def test_list_break_comment_dropped():
    blocks = parse_markdown_blocks("- a\n\n<!-- -->\n\n- b\n")
    assert [b["type"] for b in blocks] == ["bulleted_list", "bulleted_list"]


def test_unterminated_fence_closes_at_eof():
    blocks = parse_markdown_blocks("```\ncode line")
    assert blocks == [{"type": "code", "title": "code line", "language": "plain text"}]


def test_store_blocks_plan(spark):
    staged = spark.createDataFrame(
        [("wiki/Page One.md", SAMPLE_MD), ("wiki/Page Two.md", "# Only heading")],
        "s3_object_key string, markdown string",
    )
    blocks, pages = store_blocks(staged)
    b = blocks.orderBy("batch_id", "block_index").collect()
    p = {r.batch_id: r for r in pages.collect()}

    # ordered, zero-based, gap-free block indexes per batch
    by_batch: dict[str, list[int]] = {}
    for r in b:
        by_batch.setdefault(r.batch_id, []).append(r.block_index)
    for idxs in by_batch.values():
        assert idxs == list(range(len(idxs)))
    assert all(r.s3_bucket == "local" for r in b)

    assert len(p) == 2
    assert all(r.status == "NEW" and r.page_url is None for r in p.values())
    # batch_id is content-addressed on the key → deterministic across runs
    blocks2, _ = store_blocks(staged)
    assert {r.batch_id for r in blocks2.collect()} == set(by_batch)

    one = [r for r in b if r.s3_object_key == "wiki/Page One.md"]
    assert len(one) == 12
    payload = json.loads(one[0].block_json)
    assert payload["type"] == "header" and payload["title"] == "Title"


def test_store_blocks_idempotent_via_hash(spark):
    staged = spark.createDataFrame(
        [("a/x.md", "# H")], "s3_object_key string, markdown string"
    )
    b1, _ = store_blocks(staged)
    b2, _ = store_blocks(staged)
    assert [tuple(r) for r in b1.select("batch_id", "block_index").collect()] == \
           [tuple(r) for r in b2.select("batch_id", "block_index").collect()]
