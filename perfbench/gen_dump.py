"""Seeded synthetic MediaWiki dump + its sequential-reference expected output.

``make_pages(seed, n_pages, ...)`` + ``write_dump(path, pages)`` write one
XML dump whose page mix exercises every route of ``cli process-dump``:
ns 0 / ns 14 wikitext with headings, lists, tables, indented code,
templates, categories and file links; ns 6 File pages carrying base64
uploads (a few with a bad encoding); skipped ns 2 pages; redirects; empty
pages; and a 1% tail of pages about ``long_factor`` times longer than the
rest.

``expected_output(pages)`` runs the same pure-Python functions the
engine's own sequential oracle uses (``prepare_wikitext_py`` +
``convert_document``) page by page, so the check needs no Spark.

Text is ASCII on purpose: the output files are written with the
platform's default encoding, and the benchmark must not fail on a host
whose locale is not UTF-8.
"""

from __future__ import annotations

import base64
import hashlib
import os
import random
import re
from dataclasses import dataclass
from xml.sax.saxutils import escape

WORDS = (
    "alpha bravo cache delta engine filter graph hash index join kernel "
    "layer merge node order parse query router shard table upload vector "
    "window block commit drain page stream batch schema token buffer "
    "socket packet switch bridge tunnel"
).split()

NAMESPACES = {0: "Main", 2: "User", 6: "File", 14: "Category"}

_UNHANDLED = re.compile(r"\{\{.+?\}\}")


@dataclass
class Page:
    ns: int
    title: str
    text: str | None
    upload: tuple[str, str, bytes] | None = None  # (filename, encoding, raw)


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _sentence(rng: random.Random, i: int) -> str:
    s = _words(rng, 5, 12).capitalize()
    k = rng.random()
    if k < 0.15:
        s += f" '''{_words(rng, 1, 2)}'''"
    elif k < 0.3:
        s += f" ''{_words(rng, 1, 2)}''"
    elif k < 0.45:
        s += f" see [[Page {rng.randrange(i + 1)}]]"
    elif k < 0.55:
        s += f" per [[Page {rng.randrange(i + 1)}|{_words(rng, 1, 2)}]]"
    elif k < 0.65:
        s += f" at [http://example.org/{rng.choice(WORDS)} {_words(rng, 1, 2)}]"
    elif k < 0.72:
        s += f" {{{{RFC|{rng.randint(100, 9999)}}}}}"
    elif k < 0.78:
        s += f" {{{{source|{_words(rng, 2, 3)}}}}}"
    elif k < 0.82:
        s += f" {{{{MSKB|{rng.randint(1000, 99999)}|{_words(rng, 1, 3)}}}}}"
    return s + "."


def _section(rng: random.Random, i: int) -> list[str]:
    out = [f"== {_words(rng, 1, 3).title()} ==",
           " ".join(_sentence(rng, i) for _ in range(rng.randint(1, 3))), ""]
    k = rng.random()
    if k < 0.3:
        marker = rng.choice("*#")
        out += [f"{marker} {_words(rng, 2, 6)}" for _ in range(rng.randint(2, 4))]
        out.append("")
    elif k < 0.45:
        out += ["{| class=\"wikitable\"", "! Key !! Value !! Note"]
        for _ in range(rng.randint(2, 3)):
            out += ["|-", f"| {rng.choice(WORDS)} || {rng.randint(1, 999)} "
                          f"|| {_words(rng, 1, 3)}"]
        out += ["|}", ""]
    elif k < 0.6:
        out += [f"  {rng.choice(WORDS)} --{rng.choice(WORDS)} {rng.randint(1, 99)}"
                for _ in range(rng.randint(2, 4))]
        out.append("after the code block " + _words(rng, 2, 4) + ".")
        out.append("")
    elif k < 0.7:
        out += [f"[[File:img_{rng.randrange(1000)}.png|thumb|{_words(rng, 1, 3)}]]", ""]
    return out


def _uniform_section(rng: random.Random, i: int) -> list[str]:
    """Heading, paragraph, two bullets: always four blocks."""
    return [f"== {_words(rng, 1, 3).title()} {i} ==", _sentence(rng, i), "",
            f"* {_words(rng, 2, 6)}", f"* {_words(rng, 2, 6)}", ""]


def _article(rng: random.Random, i: int, sections: int, uniform: bool = False) -> str:
    lines = [" ".join(_sentence(rng, i) for _ in range(rng.randint(1, 3))), ""]
    for _ in range(sections):
        lines += _uniform_section(rng, i) if uniform else _section(rng, i)
    if rng.random() < 0.08:
        lines += [f"{{{{Infobox|{rng.choice(WORDS)}}}}}", ""]
    lines.append(f"[[Category:{rng.choice(WORDS).title()}]]")
    return "\n".join(lines) + "\n"


def make_pages(seed: int, n_pages: int, long_factor: int = 10,
               poison: int = 0) -> list[Page]:
    """The seeded page list.  Exactly ``n_pages // 100`` ns-0 pages carry
    ``3 * long_factor`` four-block sections, about ``long_factor`` times
    the length of the rest (121 blocks at 10); the first ``poison``
    ns-0 pages carry a ``POISON`` paragraph the mock Notion API rejects."""
    rng = random.Random(seed)
    # exact counts per kind, shuffled: only the order and text vary by seed
    kinds = ["long"] * max(1, n_pages // 100)
    for kind, share in (("category", 0.08), ("file", 0.06), ("user", 0.05),
                        ("redirect", 0.05), ("empty", 0.04)):
        kinds += [kind] * round(share * n_pages)
    kinds += ["main"] * (n_pages - len(kinds))
    rng.shuffle(kinds)
    pages: list[Page] = []
    poisoned = 0
    for i, kind in enumerate(kinds):
        if kind in ("main", "long"):
            if kind == "long":
                text = _article(rng, i, 3 * long_factor, uniform=True)
            else:
                text = _article(rng, i, rng.randint(2, 4))
            if poisoned < poison and kind == "main":
                text += f"\nPOISON marker {seed}-{i} for the mock sink.\n"
                poisoned += 1
            pages.append(Page(0, f"Page {i} {rng.choice(WORDS)}", text))
        elif kind == "category":
            pages.append(Page(14, f"Category:Topic {i}", _article(rng, i, 1)))
        elif kind == "file":
            raw = rng.randbytes(rng.randint(300, 3000))
            enc = "hex" if rng.random() < 0.05 else "base64"
            pages.append(Page(6, f"File:img_{i}.png", _words(rng, 3, 8),
                              (f"img_{i}.png", enc, raw)))
        elif kind == "user":
            pages.append(Page(2, f"User:Editor {i}", _article(rng, i, 1)))
        elif kind == "redirect":
            pages.append(Page(0, f"Redirect {i}", f"#REDIRECT [[Page {i - 1}]]"))
        else:
            pages.append(Page(0, f"Empty {i}", None))
    return pages


def _b64_lines(raw: bytes) -> str:
    s = base64.b64encode(raw).decode()
    return "\n".join(s[k:k + 76] for k in range(0, len(s), 76))


def write_dump(path: str, pages: list[Page]) -> int:
    """Write the pages as one MediaWiki export file; returns its size."""
    out = ['<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/">',
           "  <siteinfo>", "    <sitename>Bench</sitename>", "    <namespaces>"]
    for key, name in NAMESPACES.items():
        out.append(f'      <namespace key="{key}" />' if key == 0
                   else f'      <namespace key="{key}">{name}</namespace>')
    out += ["    </namespaces>", "  </siteinfo>"]
    for p in pages:
        text = ("<text />" if p.text is None
                else f'<text xml:space="preserve">{escape(p.text)}</text>')
        out += ["  <page>", f"    <title>{escape(p.title)}</title>",
                f"    <ns>{p.ns}</ns>", f"    <revision>{text}</revision>"]
        if p.upload is not None:
            name, enc, raw = p.upload
            body = _b64_lines(raw) if enc == "base64" else raw.hex()
            out += ["    <upload>", f"      <filename>{escape(name)}</filename>",
                    f'      <contents encoding="{enc}">{body}</contents>',
                    "    </upload>"]
        out.append("  </page>")
    out.append("</mediawiki>\n")
    data = "\n".join(out).encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def expected_output(pages: list[Page]) -> dict:
    """Sequential reference for ``cli process-dump`` on these pages:
    ``files`` maps each output path (relative to the outdir) to its bytes,
    ``side`` holds the expected row count of every ``_warnings`` output."""
    from mediawiki_to_notion_spark.functions.gfm_convert import convert_document
    from mediawiki_to_notion_spark.functions.wikitext import (
        prepare_wikitext_py,
        safe_filename_py,
    )

    files: dict[str, bytes] = {}
    side = {"skipped_pages": 0, "unhandled_templates": 0,
            "convert_errors": 0, "file_decode_errors": 0}
    for p in pages:
        if p.upload is not None:
            name, enc, raw = p.upload
            if enc == "base64":
                files[f"File/{name}"] = raw
            else:
                side["file_decode_errors"] += 1
        if p.ns not in (0, 14):
            if p.ns != 6:
                side["skipped_pages"] += 1
            continue
        if not p.text or p.text.startswith("#REDIRECT"):
            continue
        ns_name = NAMESPACES[p.ns]
        bare = p.title.split(":", 1)[1] if p.ns > 0 else p.title
        cleaned = prepare_wikitext_py(p.text, ns_name)
        if _UNHANDLED.search(cleaned):
            side["unhandled_templates"] += 1
        md, err = convert_document(cleaned)
        if md is None:
            side["convert_errors"] += 1
            continue
        files[f"{ns_name}/{safe_filename_py(bare)}.md"] = md.encode("utf-8")
    return {"files": files, "side": side}


def fingerprint(paths: list[str], root: str) -> str:
    """Short sha256 over the files' paths (relative to ``root``) and bytes."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
