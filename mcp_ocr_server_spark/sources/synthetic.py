"""Deterministic synthetic corpus of interleaved text + media documents.

Input-table shape is exactly BASELINE.json `input_hint`:

    docs(doc_id: string,
         spans: array<struct<kind:string, text:string,
                             media_ref:string, offset:int>>)

plus the `media(media_ref, bytes, degradation)` sidecar and the
`expected_spans` golden table (FIXTURES.md §1-§3).  Replaces the
reference's ad-hoc manual test image (test/simple/main.go:15-71 reads
one file from disk) with a seeded, reproducible corpus.

Scale design: every row is a pure function of (seed, index) via
counter-based Philox streams, so generation is embarrassingly parallel
— `spark.range(n).mapInPandas(...)` with NO driver-side loops, no
shared state, no shuffle.  The same functions generate 100 docs for a
pytest fixture or 10^12 docs on a cluster; only `n_docs` changes.

Skew profile (FIXTURES.md §1): ~90% of docs are light (1-4 spans, <=1
image); ~10% are media-heavy (8-12 spans, >=6 images) — this is the
skew the pipeline's image-granularity repartitioning must break
(north_rule; SURVEY.md §4 item 1).

Degradations map one-to-one onto the adaptive-analyzer branches of the
reference (analyzer.go:136-166; FIXTURES.md §2): clean, low_contrast
(=> contrast_enhance), dark (=> brighten), bright (=> darken), blurry
(=> denoise), skewed_3deg / skewed_8deg (0.5 < a < 10 => deskew
applies, preprocessor.go:246-252), skewed_15deg (> limit => NOT
corrected), oversize (> max_image_size => IMAGE_TOO_LARGE error row,
handler.go:252-254).  Some media_refs are byte-duplicated across docs
(content-hash memoization path, cache.go:188-198); some point at
missing media rows (FILE_NOT_FOUND path, handler.go:304-306).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache

import numpy as np

from ..config import FILE_NOT_FOUND, IMAGE_TOO_LARGE, DEFAULT_CONFIG, JobConfig
from ..imaging import kernels
from ..imaging.analyzer import preprocess
from ..imaging.font import render_text
from ..imaging.png import encode_png
from ..operators.rows import map_rows

# ---------------------------------------------------------------------------
# configuration

@dataclass(frozen=True)
class CorpusConfig:
    seed: int = 42
    n_docs: int = 200
    # universe of media indices docs may reference; indices where
    # j % missing_modulo == missing_modulo - 1 exist in docs but NOT in
    # the media table (FILE_NOT_FOUND rows).
    n_media: int = 0  # 0 => max(16, n_docs // 2)
    missing_modulo: int = 13
    hot_pool: int = 8          # first K media indices are "hot" (byte dups)
    p_hot: float = 0.25
    heavy_frac: float = 0.10   # media-heavy doc fraction
    oversize_bytes: int = 96_000  # noise payload for 'oversize' images
    # fraction of non-image span slots that become pdf-kind spans
    # (0 = legacy corpora: the draw sequence is bit-identical to
    # pre-pdf rounds, so flagship goldens never move)
    p_pdf: float = 0.0
    pdf_missing_slack: int = 4  # refs past the pdf table => FILE_NOT_FOUND

    @property
    def media_universe(self) -> int:
        return self.n_media or max(16, self.n_docs // 2)


# streams for Philox keys — one namespace per generator family
(_S_DOC, _S_MEDIA, _S_TEXT, _S_AUDIO, _S_PDF, _S_VIDEO, _S_SNIFF,
 _S_VSNIFF) = (1, 2, 3, 4, 5, 6, 7, 8)

_DEGRADATIONS = (
    "clean", "clean", "clean",        # weight 3
    "low_contrast", "dark", "bright", "blurry",
    "skewed_3deg", "skewed_8deg", "skewed_15deg",
    "oversize",
)

# words renderable by the fixture font (A-Z only) for image text
_FONT_WORDS = (
    "SCAN TABLE QUERY SPARK BATCH MERGE INDEX SHARD TOKEN PIXEL GLYPH "
    "IMAGE OTSU DESKEW DENOISE KERNEL ARROW PANDAS ICEBERG SPAN DOC "
    "HASH CACHE POOL WORKER ENGINE OCR TEXT PAGE LINE WORD"
).split()

# prose words for text spans / html main content
_PROSE_WORDS = (
    "the quick analytic engine reads every span and writes extracted "
    "content back to the table while partitions stay balanced across "
    "executors because media heavy documents are broken into image "
    "granularity work units with content hash memoization and ordered "
    "reassembly preserving offsets exactly as the reference server "
    "returns results in input order for each batch request"
).split()

_BOILER_LINKS = ("home", "about", "contact", "login", "search", "terms")


def _rng(seed: int, stream: int, idx: int) -> np.random.Generator:
    # Philox takes a 2x64-bit key; fold (seed, stream, idx) injectively
    return np.random.Generator(
        np.random.Philox(key=[(seed << 8) | stream, idx])
    )


def _words(rng: np.random.Generator, vocab: tuple | list, n: int) -> str:
    return " ".join(str(vocab[int(i)]) for i in rng.integers(0, len(vocab), n))


# ---------------------------------------------------------------------------
# media generation (pure function of (cfg, j))

def media_exists(cfg: CorpusConfig, j: int) -> bool:
    return (j % cfg.missing_modulo) != cfg.missing_modulo - 1


def media_ref(j: int) -> str:
    return f"img-{j:08d}"


def _degrade(img: np.ndarray, deg: str, rng: np.random.Generator,
             oversize_bytes: int) -> np.ndarray:
    f = img.astype(np.float64)
    if deg == "low_contrast":
        f = 128.0 + (f - 128.0) * 0.15
    elif deg == "dark":
        f = f * 0.15
    elif deg == "bright":
        f = 255.0 - (255.0 - f) * 0.15
    elif deg == "blurry":
        # repeated box blur + ink-contrast squeeze: Laplacian variance
        # falls under the sharpness threshold (denoise branch) while
        # strokes stay recoverable at the blurry render scale
        for _ in range(4):
            pad = np.pad(f, 1, mode="edge")
            f = sum(
                pad[dy : dy + f.shape[0], dx : dx + f.shape[1]]
                for dy in range(3)
                for dx in range(3)
            ) / 9.0
        f = 255.0 - (255.0 - f) * 0.55
    elif deg.startswith("skewed_"):
        angle = {"skewed_3deg": -3.0, "skewed_8deg": 8.0, "skewed_15deg": 15.0}[deg]
        # pad so rotation keeps all text on-canvas (same-size warp would
        # clip line ends before the pipeline ever sees them)
        h, w = img.shape[:2]
        p = int(max(h, w) * abs(np.sin(np.deg2rad(angle)))) // 2 + 6
        padded = np.pad(img, p, mode="constant", constant_values=255)
        return kernels.rotate(padded, angle)
    elif deg == "oversize":
        # incompressible noise => PNG bigger than the size guard
        return rng.integers(0, 256, (oversize_bytes // 300, 300),
                            dtype=np.int64).astype(np.uint8)
    return np.clip(np.round(f), 0, 255).astype(np.uint8)


def media_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str, str]:
    """(media_ref, png_bytes, degradation, true_rendered_text)."""
    rng = _rng(cfg.seed, _S_MEDIA, j)
    n_lines = int(rng.integers(1, 3))
    lines = [
        _words(rng, _FONT_WORDS, int(rng.integers(2, 5))) for _ in range(n_lines)
    ]
    true_text = "\n".join(lines)
    deg = _DEGRADATIONS[int(rng.integers(0, len(_DEGRADATIONS)))]
    # blurry needs thick strokes to survive smoothing; skew needs >=3 so
    # glyphs survive the render-rotate -> deskew-rotate double resample
    scale = 4 if deg == "blurry" else (3 if deg.startswith("skewed") else int(rng.integers(2, 4)))
    img = render_text(true_text, scale=scale)
    img = _degrade(img, deg, rng, cfg.oversize_bytes)
    return media_ref(j), encode_png(img), deg, true_text


@lru_cache(maxsize=16384)
def golden_media(cfg: CorpusConfig, job: JobConfig, j: int) -> tuple[str, float, str, str | None]:
    """Fixture-build-time golden OCR result for media index j.

    (text, confidence, degradation, error_code).  Runs the same
    preprocess + engine the pipeline runs (engine-version-stable,
    SURVEY.md §7 "OCR determinism") — the pytest oracle for the *Spark
    plumbing* (explode/route/dedup/join/reassemble), while engine
    quality is separately guarded by tests asserting recovered text ==
    rendered text on clean images.
    """
    from ..ocr.engine import get_engine
    from ..imaging.png import decode_png

    _, png, deg, _true = media_item(cfg, j)
    if len(png) > job.ocr.max_image_size:
        return "", 0.0, deg, IMAGE_TOO_LARGE
    img = decode_png(png)
    try:
        processed, _q, _steps = preprocess(img, job.preprocessing)
    except Exception:
        processed = img  # fail-soft, handler.go:271-275
    res = get_engine(job.ocr).recognize(processed)
    return res.text, res.confidence, deg, None


# ---------------------------------------------------------------------------
# html generation

def make_html(rng: np.random.Generator) -> tuple[str, str]:
    """(html_doc, golden_main_text).  Boilerplate = short/link-heavy
    blocks; main content = 2 long paragraphs (>= extractor MIN_WORDS)."""
    nav = "".join(
        f'<li><a href="/{w}">{w}</a></li>'
        for w in rng.choice(_BOILER_LINKS, 3, replace=False)
    )
    title = _words(rng, _PROSE_WORDS, 3)
    paras = [
        _words(rng, _PROSE_WORDS, int(rng.integers(14, 26))) for _ in range(2)
    ]
    aside = f'<a href="/ad">{_words(rng, _PROSE_WORDS, 2)}</a> sponsored'
    footer = f'copyright <a href="/terms">terms</a> {int(rng.integers(2000, 2030))}'
    html_doc = (
        "<html><head><title>t</title><style>p{margin:0}</style></head><body>"
        f"<nav><ul>{nav}</ul></nav>"
        f'<div class="content"><h1>{title}</h1>'
        + "".join(f"<p>{p}</p>" for p in paras)
        + f"</div><aside>{aside}</aside><footer><p>{footer}</p></footer>"
        "</body></html>"
    )
    return html_doc, "\n".join(paras)


# --- adversarial html corpus (functions/text_extract eval) -----------------
# Separate from the flagship docs corpus on purpose: these pages are
# BUILT to make the Kohlschütter-family thresholds miss, so they feed
# the html_main_eval calibration query without perturbing the exact-
# equality golden the easy corpus pins.

_S_HTMLEVAL = 12

N_HTML_EVAL_DOCS = 64

_HTML_EVAL_CLASSES = (
    "clean", "short_main", "linky_main", "prose_boiler",
    "comments", "nested_boiler", "table_layout", "malformed",
)


def html_eval_item(cfg: CorpusConfig, j: int) -> tuple[str, str, str, str]:
    """(doc_id, cls, html, golden_main).  golden_main is always the
    TRUE main text (what a perfect extractor returns), so the eval
    measures each heuristic's operating point, not the generator.
    Classes 1-4 price the FLAT Kohlschütter thresholds; classes 5-8
    (added with the DOM extractor) price tree-level failure modes the
    flat path cannot see at all:

      clean         — nav/aside/footer boilerplate only: exact strip
                      on both paths
      short_main    — a 5-8-word closing sentence (< MIN_WORDS, ends
                      with a full stop): flat drops it (recall < 1 BY
                      DESIGN); the DOM path's readability.js
                      short-sentence rescue keeps it
      linky_main    — citation-dense main paragraph (every other word
                      an anchor, link density > MAX_LINK_DENSITY):
                      flat drops it; the DOM path rescues it because
                      its HOME candidate is link-light
      prose_boiler  — a 'related teaser' block: >= MIN_WORDS words,
                      one short link, under the density bar => flat
                      KEEPS it (precision < 1); the DOM path prunes
                      the class="related" signal
      comments      — a #comments section of long link-free prose:
                      flat keeps every comment (precision << 1); the
                      DOM path prunes by id signal
      nested_boiler — a link-light promo box NESTED INSIDE the content
                      div: flat keeps it (precision < 1); DOM prunes
                      the class="promo-box" signal
      table_layout  — 1990s table layout (menu <td> of links beside a
                      content <td>): both paths must stay exact
      malformed     — unclosed <p>s, a stray end tag, mis-nested
                      inline tags: both paths must recover exactly
    """
    rng = _rng(cfg.seed, _S_HTMLEVAL, j)
    cls = _HTML_EVAL_CLASSES[j % len(_HTML_EVAL_CLASSES)]
    nav = "".join(
        f'<li><a href="/{w}">{w}</a></li>'
        for w in rng.choice(_BOILER_LINKS, 3, replace=False)
    )
    paras = [
        _words(rng, _PROSE_WORDS, int(rng.integers(14, 26))) for _ in range(2)
    ]
    golden = list(paras)
    body_extra = ""
    after_content = ""
    if cls == "short_main":
        # ends with a full stop — the realistic closing-sentence shape
        # the DOM path's short-sentence rescue is built for (a bare
        # word-soup fragment stays dropped on BOTH paths)
        tail = _words(rng, _PROSE_WORDS, int(rng.integers(5, 9))) + "."
        golden.append(tail)
        body_extra = f"<p>{tail}</p>"
    elif cls == "linky_main":
        words = _words(rng, _PROSE_WORDS, 18).split()
        linked = [
            f'<a href="/ref{k}">{w}</a>' if k % 2 == 0 else w
            for k, w in enumerate(words)
        ]
        golden.append(" ".join(words))
        body_extra = "<p>" + " ".join(linked) + "</p>"
    elif cls == "prose_boiler":
        teaser = _words(rng, _PROSE_WORDS, int(rng.integers(12, 16)))
        body_extra = (f'<div class="related">{teaser} '
                      f'<a href="/more">more</a></div>')
    elif cls == "comments":
        cmts = [
            _words(rng, _PROSE_WORDS, int(rng.integers(12, 20)))
            for _ in range(2)
        ]
        after_content = ('<div id="comments">'
                         + "".join(f"<p>{c}</p>" for c in cmts)
                         + "</div>")
    elif cls == "nested_boiler":
        promo = _words(rng, _PROSE_WORDS, int(rng.integers(12, 16)))
        body_extra = f'<div class="promo-box"><p>{promo}</p></div>'
    aside = f'<a href="/ad">{_words(rng, _PROSE_WORDS, 2)}</a> sponsored'
    footer = (f'copyright <a href="/terms">terms</a> '
              f'{int(rng.integers(2000, 2030))}')
    title = _words(rng, _PROSE_WORDS, 3)
    if cls == "table_layout":
        html_doc = (
            "<html><head><title>t</title></head><body><table><tr>"
            f'<td class="menu"><ul>{nav}</ul></td>'
            f'<td class="text"><h1>{title}</h1>'
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</td></tr></table>"
            f"<footer><p>{footer}</p></footer></body></html>"
        )
    elif cls == "malformed":
        # unclosed <p>s, mis-nested <b><i>..</b></i>, a stray </span>
        tail = _words(rng, _PROSE_WORDS, 4)
        golden[1] = f"{paras[1]} {tail}"
        html_doc = (
            "<html><head><title>t</title></head><body>"
            f"<nav><ul>{nav}</ul></nav>"
            f'<div class="content"><h1>{title}</h1>'
            f"<p>{paras[0]}"
            f"<p>{paras[1]} <b><i>{tail}</b></i>"
            "</div></span>"
            f"<aside>{aside}</aside><footer><p>{footer}</p></footer>"
            "</body></html>"
        )
    else:
        html_doc = (
            "<html><head><title>t</title></head><body>"
            f"<nav><ul>{nav}</ul></nav>"
            f'<div class="content"><h1>{title}</h1>'
            + "".join(f"<p>{p}</p>" for p in paras)
            + body_extra
            + f"</div>{after_content}<aside>{aside}</aside>"
            f"<footer><p>{footer}</p></footer>"
            "</body></html>"
        )
    return f"heval-{j:06d}", cls, html_doc, "\n".join(golden)


HTML_EVAL_SCHEMA = "doc_id string, cls string, html string, golden string"


def html_eval_df(spark, cfg: CorpusConfig, n: int = N_HTML_EVAL_DOCS):
    return _generated_df(spark, n, 4, HTML_EVAL_SCHEMA,
                         lambda j: [html_eval_item(cfg, j)])


# --- structured-markdown corpus (functions/markdown.py eval) ---------------
# Pages whose STRUCTURE the markdown extractor must preserve exactly.
# The golden markdown is constructed by the generator from the same
# random pieces as the html — a TRUE independent golden, not an
# extractor echo: if the renderer mangles a table or loses list
# nesting, the exactness flag goes false.

_S_HTMLMD = 14
N_HTML_MD_DOCS = 40

_HTML_MD_CLASSES = ("article", "lists", "table_doc", "code_doc",
                    "quote_doc")


def html_md_item(cfg: CorpusConfig, j: int) -> tuple[str, str, str, str]:
    """(doc_id, cls, html, golden_markdown).  Every page wraps its
    structured main content in the standard boilerplate (nav, aside,
    footer, a class="related" teaser INSIDE the content div) that the
    candidate selection must strip before rendering."""
    rng = _rng(cfg.seed, _S_HTMLMD, j)
    cls = _HTML_MD_CLASSES[j % len(_HTML_MD_CLASSES)]
    title = _words(rng, _PROSE_WORDS, 3)
    intro = _words(rng, _PROSE_WORDS, int(rng.integers(12, 20)))
    body_html: list[str] = [f"<h1>{title}</h1>", f"<p>{intro}</p>"]
    golden: list[str] = [f"# {title}", intro]

    if cls == "article":
        sec = _words(rng, _PROSE_WORDS, 3)
        bold = _words(rng, _PROSE_WORDS, 2)
        ital = _words(rng, _PROSE_WORDS, 1)
        lead = _words(rng, _PROSE_WORDS, 6)
        tail = _words(rng, _PROSE_WORDS, 6)
        body_html += [
            f"<h2>{sec}</h2>",
            f"<p>{lead} <b>{bold}</b> and <i>{ital}</i> {tail}</p>",
        ]
        golden += [f"## {sec}",
                   f"{lead} **{bold}** and *{ital}* {tail}"]
    elif cls == "lists":
        items = [_words(rng, _PROSE_WORDS, 2) for _ in range(3)]
        nested = [_words(rng, _PROSE_WORDS, 2) for _ in range(2)]
        ordered = [_words(rng, _PROSE_WORDS, 2) for _ in range(3)]
        body_html.append(
            "<ul>"
            f"<li>{items[0]}</li>"
            f"<li>{items[1]}<ul>"
            + "".join(f"<li>{n}</li>" for n in nested)
            + "</ul></li>"
            f"<li>{items[2]}</li></ul>"
        )
        body_html.append(
            "<ol>" + "".join(f"<li>{o}</li>" for o in ordered) + "</ol>"
        )
        golden.append(
            f"- {items[0]}\n- {items[1]}\n"
            + "\n".join(f"  - {n}" for n in nested)
            + f"\n- {items[2]}"
        )
        golden.append("\n".join(
            f"{i + 1}. {o}" for i, o in enumerate(ordered)))
    elif cls == "table_doc":
        heads = [_words(rng, _PROSE_WORDS, 1) for _ in range(2)]
        cells = [[_words(rng, _PROSE_WORDS, 1), str(int(rng.integers(1, 99)))]
                 for _ in range(3)]
        body_html.append(
            "<table><tr>"
            + "".join(f"<th>{h}</th>" for h in heads)
            + "</tr>"
            + "".join(
                "<tr>" + "".join(f"<td>{c}</td>" for c in row) + "</tr>"
                for row in cells
            )
            + "</table>"
        )
        golden.append(
            "| " + " | ".join(heads) + " |\n|---|---|\n"
            + "\n".join("| " + " | ".join(row) + " |" for row in cells)
        )
    elif cls == "code_doc":
        fn = _words(rng, _PROSE_WORDS, 1)
        arg = _words(rng, _PROSE_WORDS, 1)
        code = f"def {fn}({arg}):\n    return {arg} * 2"
        after = _words(rng, _PROSE_WORDS, 8)
        body_html += [
            f"<pre>{code}</pre>",
            f"<p>call <code>{fn}()</code> {after}</p>",
        ]
        golden += [f"```\n{code}\n```", f"call `{fn}()` {after}"]
    else:  # quote_doc
        quote = _words(rng, _PROSE_WORDS, int(rng.integers(10, 15)))
        tail = _words(rng, _PROSE_WORDS, int(rng.integers(10, 14)))
        body_html += [
            f"<blockquote><p>{quote}</p></blockquote>",
            f"<p>{tail}</p>",
        ]
        golden += [f"> {quote}", tail]

    nav = "".join(
        f'<li><a href="/{w}">{w}</a></li>'
        for w in rng.choice(_BOILER_LINKS, 3, replace=False)
    )
    teaser = _words(rng, _PROSE_WORDS, int(rng.integers(12, 16)))
    html_doc = (
        "<html><head><title>t</title></head><body>"
        f"<nav><ul>{nav}</ul></nav>"
        '<div class="content">'
        + "".join(body_html)
        + f'<div class="related">{teaser} <a href="/more">more</a></div>'
        "</div>"
        f'<aside><a href="/ad">{_words(rng, _PROSE_WORDS, 2)}</a>'
        " sponsored</aside>"
        "<footer><p>copyright</p></footer>"
        "</body></html>"
    )
    return f"hmd-{j:06d}", cls, html_doc, "\n\n".join(golden)


HTML_MD_SCHEMA = "doc_id string, cls string, html string, golden string"


def html_md_df(spark, cfg: CorpusConfig, n: int = N_HTML_MD_DOCS):
    return _generated_df(spark, n, 4, HTML_MD_SCHEMA,
                         lambda j: [html_md_item(cfg, j)])


# ---------------------------------------------------------------------------
# html-metadata corpus (functions/dom.extract_html_metadata): pages
# whose head carries the curation signals — title / meta description /
# canonical / OpenGraph / lang / JSON-LD — with EXPECTED values
# constructed independently alongside the html (the html_md golden
# pattern), plus adversarial classes (no head, broken JSON-LD,
# duplicate titles, entities)

_S_HTMLMETA = 15
N_HTML_META_DOCS = 40

_HTML_META_CLASSES = (
    "full", "minimal", "no_head", "og_only", "jsonld_graph",
    "broken_jsonld", "entities", "multi_title",
)

HTML_META_SCHEMA = (
    "page_id string, cls string, html string, title string,"
    " description string, canonical string, og_title string,"
    " og_type string, lang string, jsonld_types string, n_meta int"
)


def html_meta_item(cfg: CorpusConfig, j: int) -> tuple:
    """(page_id, cls, html, expected…) — expected fields are built
    from the same random pieces as the html, never by running the
    extractor (a true round-trip, not an echo)."""
    rng = _rng(cfg.seed, _S_HTMLMETA, j)
    cls = _HTML_META_CLASSES[j % len(_HTML_META_CLASSES)]
    t = _words(rng, _PROSE_WORDS, 3).title()
    desc = _words(rng, _PROSE_WORDS, int(rng.integers(8, 14)))
    slug = _words(rng, _PROSE_WORDS, 1)
    canon = f"https://example.org/{slug}"
    body = f"<body><p>{_words(rng, _PROSE_WORDS, 20)}</p></body>"
    exp = dict(title=None, description=None, canonical=None,
               og_title=None, og_type=None, lang=None,
               jsonld_types=None, n_meta=0)
    if cls == "full":
        og_t = ("article", "website")[j % 2]
        ld = ('{"@context": "https://schema.org",'
              f' "@type": "NewsArticle", "headline": "{t}"}}')
        html = (
            f'<html lang="en"><head><title>{t}</title>'
            f'<meta name="description" content="{desc}">'
            f'<link rel="canonical" href="{canon}">'
            f'<meta property="og:title" content="{t}">'
            f'<meta property="og:type" content="{og_t}">'
            f'<script type="application/ld+json">{ld}</script>'
            f"</head>{body}</html>"
        )
        exp.update(title=t, description=desc, canonical=canon,
                   og_title=t, og_type=og_t, lang="en",
                   jsonld_types="NewsArticle", n_meta=3)
    elif cls == "minimal":
        html = f"<html><head><title>{t}</title></head>{body}</html>"
        exp.update(title=t)
    elif cls == "no_head":
        html = f"<html>{body}</html>"
    elif cls == "og_only":
        # the social-card-only page: og:* present, classic tags absent
        html = (
            "<html><head>"
            f'<meta property="og:title" content="{t}">'
            '<meta property="og:type" content="video.movie">'
            f"</head>{body}</html>"
        )
        exp.update(og_title=t, og_type="video.movie", n_meta=2)
    elif cls == "jsonld_graph":
        ld = ('{"@graph": [{"@type": "Organization"},'
              ' {"@type": ["Article", "CreativeWork"]}]}')
        html = (
            f'<html lang="de-DE"><head><title>{t}</title>'
            f'<script type="application/ld+json">{ld}</script>'
            f"</head>{body}</html>"
        )
        exp.update(title=t, lang="de-DE",
                   jsonld_types="Article,CreativeWork,Organization")
    elif cls == "broken_jsonld":
        html = (
            f"<html><head><title>{t}</title>"
            '<script type="application/ld+json">{not json at all'
            f"</script></head>{body}</html>"
        )
        exp.update(title=t)
    elif cls == "entities":
        # entity-bearing title + messy whitespace: decoded and
        # collapsed like a browser tab renders it
        html = (
            "<html><head><title>  " + t.replace(" ", " &amp;\n ")
            + " </title>"
            f'<meta name="description" content="{desc}">'
            f"</head>{body}</html>"
        )
        exp.update(title=t.replace(" ", " & "), description=desc,
                   n_meta=1)
    else:  # multi_title: first occurrence wins, like browsers
        html = (
            f"<html><head><title>{t}</title>"
            f"<title>WRONG</title></head>{body}</html>"
        )
        exp.update(title=t)
    return (f"hmeta-{j:06d}", cls, html, exp["title"],
            exp["description"], exp["canonical"], exp["og_title"],
            exp["og_type"], exp["lang"], exp["jsonld_types"],
            exp["n_meta"])


def html_meta_df(spark, cfg: CorpusConfig, n: int = N_HTML_META_DOCS):
    return _generated_df(spark, n, 4, HTML_META_SCHEMA,
                         lambda j: [html_meta_item(cfg, j)])


# ---------------------------------------------------------------------------
# subtitle corpus (functions/subtitles.py): SRT + WebVTT transcript
# files whose expected cues are the very list the writer consumed —
# a true round-trip; error classes pin the refuse-loudly contract

_S_SUBS = 16
N_SUBTITLE_FILES = 40

_SUB_CLASSES = (
    "srt", "srt_crlf", "vtt", "vtt_tags", "vtt_notes", "vtt_empty",
    "ttml", "ttml_offsets", "bad_ts", "garbage",
)

SUBTITLE_MEDIA_SCHEMA = "media_ref string, bytes binary, kind string"


def _sub_ts_srt(s: float) -> str:
    ms = int(round(s * 1000))
    return (f"{ms // 3600000:02d}:{ms // 60000 % 60:02d}:"
            f"{ms // 1000 % 60:02d},{ms % 1000:03d}")


def _sub_ts_vtt(s: float) -> str:
    ms = int(round(s * 1000))
    return (f"{ms // 3600000:02d}:{ms // 60000 % 60:02d}:"
            f"{ms // 1000 % 60:02d}.{ms % 1000:03d}")


def make_srt_bytes(cues: list[tuple[float, float, str]],
                   crlf: bool = False) -> bytes:
    nl = "\r\n" if crlf else "\n"
    blocks = []
    for i, (a, b, text) in enumerate(cues):
        blocks.append(
            f"{i + 1}{nl}{_sub_ts_srt(a)} --> {_sub_ts_srt(b)}{nl}"
            + text.replace("\n", nl)
        )
    return ((nl + nl).join(blocks) + nl).encode("utf-8")


def make_vtt_bytes(cues: list[tuple[float, float, str]],
                   tags: bool = False, notes: bool = False,
                   ids: bool = False) -> bytes:
    parts = ["WEBVTT"]
    if notes:
        parts.append("NOTE generated by the synthetic corpus")
    for i, (a, b, text) in enumerate(cues):
        lines = []
        if ids:
            lines.append(f"cue-{i}")
        settings = " align:start" if tags else ""
        lines.append(f"{_sub_ts_vtt(a)} --> {_sub_ts_vtt(b)}{settings}")
        body = text
        if tags:
            body = f"<v Narrator><i>{body}</i></v>"
        lines.append(body)
        parts.append("\n".join(lines))
    return ("\n\n".join(parts) + "\n").encode("utf-8")


def make_ttml_bytes(cues: list[tuple[float, float, str]],
                    offsets: bool = False) -> bytes:
    """TTML caption document: <p begin end> cues with nested spans and
    <br/> line breaks; offsets=True writes offset-time expressions
    ("3.5s") instead of clock times."""
    ps = []
    for a, b, text in cues:
        if offsets:
            begin, end = f"{a}s", f"{b}s"
        else:
            def clock(s: float) -> str:
                ms = int(round(s * 1000))
                return (f"{ms // 3600000:02d}:{ms // 60000 % 60:02d}:"
                        f"{ms // 1000 % 60:02d}.{ms % 1000:03d}")

            begin, end = clock(a), clock(b)
        body = text.replace("&", "&amp;").replace("<", "&lt;")
        body = body.replace("\n", "<br/>")
        ps.append(
            f'<p begin="{begin}" end="{end}">'
            f"<span>{body}</span></p>"
        )
    return (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<tt xmlns="http://www.w3.org/ns/ttml"><head>'
        "<styling/></head><body><div>"
        + "".join(ps) + "</div></body></tt>\n"
    ).encode("utf-8")


def subs_ref(j: int) -> str:
    return f"subs-{j:06d}"


def subtitle_item(
    cfg: CorpusConfig, j: int
) -> tuple[str, bytes, str, list[tuple[float, float, str]]]:
    """(media_ref, bytes, kind, expected_cues).  Cue text/timing is
    generated FIRST and fed to the writer, so the expectation is
    independent of the parser."""
    rng = _rng(cfg.seed, _S_SUBS, j)
    n_cues = int(rng.integers(2, 6))
    cues: list[tuple[float, float, str]] = []
    t = float(rng.integers(0, 5))
    for _ in range(n_cues):
        dur = 1.0 + int(rng.integers(0, 2500)) / 1000.0
        lines = int(rng.integers(1, 3))
        text = "\n".join(
            _words(rng, _PROSE_WORDS, int(rng.integers(3, 7)))
            for _ in range(lines)
        )
        cues.append((round(t, 3), round(t + dur, 3), text))
        t += dur + int(rng.integers(100, 900)) / 1000.0
    kind = _SUB_CLASSES[j % len(_SUB_CLASSES)]
    if kind == "srt":
        return subs_ref(j), make_srt_bytes(cues), kind, cues
    if kind == "srt_crlf":
        return subs_ref(j), make_srt_bytes(cues, crlf=True), kind, cues
    if kind == "vtt":
        return subs_ref(j), make_vtt_bytes(cues, ids=j % 2 == 0), \
            kind, cues
    if kind == "vtt_tags":
        return subs_ref(j), make_vtt_bytes(cues, tags=True), kind, cues
    if kind == "vtt_notes":
        return subs_ref(j), make_vtt_bytes(cues, notes=True), \
            kind, cues
    if kind == "vtt_empty":
        return subs_ref(j), b"WEBVTT\n", kind, []
    if kind == "ttml":
        return subs_ref(j), make_ttml_bytes(cues), kind, cues
    if kind == "ttml_offsets":
        return subs_ref(j), make_ttml_bytes(cues, offsets=True), \
            kind, cues
    if kind == "bad_ts":
        data = make_srt_bytes(cues).replace(b" --> ", b" -> ", 1)
        return subs_ref(j), data, kind, []
    return subs_ref(j), b"\x00plain bytes" + bytes([j % 256]) * 8, \
        "garbage", []


def subtitle_df(spark, cfg: CorpusConfig, n: int = N_SUBTITLE_FILES):
    return _generated_df(spark, n, 4, SUBTITLE_MEDIA_SCHEMA,
                         lambda j: [subtitle_item(cfg, j)[:3]])


# ---------------------------------------------------------------------------
# doc generation (pure function of (cfg, i))

def doc_item(cfg: CorpusConfig, i: int) -> tuple[str, list[dict]]:
    """(doc_id, spans).  Span dicts: kind, text, media_ref, offset,
    plus generator-private keys (golden text for html, media index)."""
    rng = _rng(cfg.seed, _S_DOC, i)
    heavy = rng.random() < cfg.heavy_frac
    if heavy:
        n_spans = int(rng.integers(8, 13))
        n_images = int(rng.integers(6, n_spans + 1))
    else:
        n_spans = int(rng.integers(1, 5))
        n_images = int(rng.random() < 0.35)
    img_positions = set(
        rng.choice(n_spans, size=min(n_images, n_spans), replace=False).tolist()
    )
    spans: list[dict] = []
    offset = 0
    for p in range(n_spans):
        if p in img_positions:
            if rng.random() < cfg.p_hot:
                j = int(rng.integers(0, cfg.hot_pool))
            else:
                j = int(rng.integers(0, cfg.media_universe))
            spans.append(
                dict(kind="image", text="", media_ref=media_ref(j),
                     offset=offset, _j=j)
            )
        elif cfg.p_pdf > 0 and rng.random() < cfg.p_pdf:
            # short-circuit: with p_pdf == 0 this branch draws NOTHING,
            # keeping legacy corpora's rng sequence bit-identical
            pj = int(
                rng.integers(0, N_PDF_DOCS + cfg.pdf_missing_slack)
            )
            spans.append(
                dict(kind="pdf", text="", media_ref=pdf_ref(pj),
                     offset=offset, _pj=pj)
            )
        elif rng.random() < 0.27:
            html_doc, golden = make_html(rng)
            spans.append(
                dict(kind="html", text=html_doc, media_ref="",
                     offset=offset, _golden=golden)
            )
        else:
            txt = _words(rng, _PROSE_WORDS, int(rng.integers(5, 30)))
            spans.append(dict(kind="text", text=txt, media_ref="", offset=offset))
        offset += int(rng.integers(1, 40)) + (
            len(spans[-1]["text"]) if spans[-1]["kind"] != "image" else 1
        )
    return f"doc-{i:010d}", spans


@lru_cache(maxsize=4096)
def golden_pdf(
    cfg: CorpusConfig, pj: int, job: JobConfig = DEFAULT_CONFIG
) -> tuple[str, float | None, str | None]:
    """Fixture-build-time golden for pdf index pj: (text, confidence,
    error_code).  Runs the SAME parser the pipeline's pdf branch runs
    (functions/pdf.pdf_text_row, scanned-OCR fallback included)."""
    from ..config import PDF_PARSE_FAILED
    from ..functions.pdf import pdf_text_row

    ref, data, _kind = pdf_item(cfg, pj)
    row = pdf_text_row(ref, data, ocr_cfg=job)
    if row["error"] is not None:
        return "", None, PDF_PARSE_FAILED
    return row["text"], row["confidence"], None


def expected_rows(cfg: CorpusConfig, job: JobConfig, i: int) -> list[dict]:
    """Golden output rows for doc i (FIXTURES.md §3)."""
    doc_id, spans = doc_item(cfg, i)
    out = []
    for order, sp in enumerate(spans):
        row = dict(
            doc_id=doc_id, order=order, kind=sp["kind"],
            media_ref=sp["media_ref"], text=None, confidence=None,
            language=None, error_code=None,
        )
        if sp["kind"] == "text":
            row["text"] = sp["text"]
        elif sp["kind"] == "html":
            row["text"] = sp["_golden"]
        elif sp["kind"] == "pdf":
            pj = sp["_pj"]
            if pj >= N_PDF_DOCS:
                row["text"] = ""
                row["error_code"] = FILE_NOT_FOUND
            else:
                text, conf, err = golden_pdf(cfg, pj, job)
                row["text"] = text
                if err is None:
                    # 100.0 born-digital; the OCR engine's mean page
                    # confidence for scanned documents
                    row["confidence"] = conf
                else:
                    row["error_code"] = err
        else:
            j = sp["_j"]
            if not media_exists(cfg, j):
                row["text"] = ""
                row["error_code"] = FILE_NOT_FOUND
            else:
                text, conf, _deg, err = golden_media(cfg, job, j)
                row["text"] = text
                if err is None:
                    row["confidence"] = conf
                    row["language"] = job.ocr.language
                else:
                    row["error_code"] = err
        out.append(row)
    return out


# ---------------------------------------------------------------------------
# Spark-distributed materialization (mapInPandas over spark.range — no
# driver-side generation, no shuffle; scales to any n_docs)

def _generated_df(spark, n: int, n_parts: int, schema: str, rows_of):
    """`rows_of(j)` for every generator index j in range(n), one Spark
    row stage over `spark.range`: every row is a pure function of
    (cfg, j), so the partitioning never changes the corpus."""
    return map_rows(spark.range(0, n, numPartitions=n_parts),
                    lambda j: rows_of(int(j)), schema, "id")


DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)
MEDIA_SCHEMA = "media_ref string, bytes binary, degradation string, true_text string"
B64_MEDIA_SCHEMA = "media_ref string, data_b64 string, corrupted boolean"


def b64_media_item(cfg: CorpusConfig, j: int) -> tuple[str, str, bool]:
    """(media_ref, data_b64, corrupted) — the base64 ingestion variant of
    media_item (S2: handler.go:138-162 `ocr_recognize_text_base64`).
    Same PNG payloads, base64-encoded; deterministic corruption exercises
    the INVALID_INPUT path (errors.go):
      j % 5 == 3  => illegal characters injected
      j % 5 == 1  => truncated (length no longer a multiple of 4)
    """
    import base64

    ref, png, _deg, _txt = media_item(cfg, j)
    b64 = base64.b64encode(png).decode("ascii")
    if j % 5 == 3:
        return ref, "!!" + b64[2:], True
    if j % 5 == 1:
        return ref, b64[:-1], True
    return ref, b64, False


def b64_media_df(spark, cfg: CorpusConfig):
    n = cfg.media_universe
    return _generated_df(
        spark, n, max(4, min(256, n // 32 or 4)), B64_MEDIA_SCHEMA,
        lambda j: [b64_media_item(cfg, j)] if media_exists(cfg, j) else [],
    )


EXPECTED_SCHEMA = (
    "doc_id string, order int, kind string, media_ref string, text string, "
    "confidence double, language string, error_code string"
)


def docs_df(spark, cfg: CorpusConfig):
    def doc_row(i: int) -> list[tuple]:
        doc_id, spans = doc_item(cfg, i)
        return [(doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in spans])]

    n_parts = max(4, min(256, cfg.n_docs // 64 or 4))
    return _generated_df(spark, cfg.n_docs, n_parts, DOCS_SCHEMA, doc_row)


def media_df(spark, cfg: CorpusConfig):
    n = cfg.media_universe
    return _generated_df(
        spark, n, max(4, min(256, n // 32 or 4)), MEDIA_SCHEMA,
        lambda j: [media_item(cfg, j)] if media_exists(cfg, j) else [],
    )


def expected_df(spark, cfg: CorpusConfig, job: JobConfig = DEFAULT_CONFIG):
    n_parts = max(4, min(256, cfg.n_docs // 64 or 4))
    return _generated_df(spark, cfg.n_docs, n_parts, EXPECTED_SCHEMA,
                         lambda i: expected_rows(cfg, job, i))


# ---------------------------------------------------------------------------
# audio corpus (for functions/multimodal.audio_features) — every clip a
# pure function of (seed, j), same counter-based-stream design as media

AUDIO_MEDIA_SCHEMA = "media_ref string, bytes binary, kind string"

N_AUDIO_CLIPS = 48  # fixed: goldens for this corpus are committed


def audio_ref(j: int) -> str:
    return f"clip-{j:06d}"


def _wav_bytes(pcm16: np.ndarray, rate: int, n_channels: int = 1,
               tags: dict | None = None) -> bytes:
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm16.astype("<i2").tobytes())
    data = bytearray(buf.getvalue())
    if tags:
        # trailing LIST/INFO chunk (INAM/IART/IPRD), RIFF size patched
        fourcc = {"title": b"INAM", "artist": b"IART", "album": b"IPRD"}
        body = bytearray(b"INFO")
        for k, v in tags.items():
            val = v.encode("latin-1") + b"\x00"
            if len(val) % 2:
                val += b"\x00"
            body += fourcc[k] + struct.pack("<I", len(val)) + val
        data += b"LIST" + struct.pack("<I", len(body)) + bytes(body)
        data[4:8] = struct.pack("<I", len(data) - 8)
    return bytes(data)


def audio_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str]:
    """(media_ref, bytes, kind).  Kind classes exercise every branch of
    the audio-features row contract:

      wav            — real 16-bit PCM decode (mono or stereo)
      wav_empty      — legal zero-frame container: rms = peak = 0.0
      flac           — REAL lossless decode (functions/flac.py):
                       mono fixed-predictor+rice or mid/side-stereo
                       LPC streams, bit-exact, CRC+MD5 self-verified
      flac_corrupt   — one flipped payload byte => the decoder's
                       frame-CRC refuses loudly => error row
      ogg_flac       — REAL decode through the Ogg layer too (RFC 5334
                       mapping: page CRC-32 + cross-page packet
                       reassembly + the same native FLAC bitstream)
      compressed     — ogg magic, random body => documented
                       deterministic stub (MDCT codec not in container)
      wav_truncated  — RIFF/WAVE magic but chopped chunks => error row
    """
    rng = _rng(cfg.seed, _S_AUDIO, j)
    rate = 8000
    n = 1600 + (j % 5) * 400
    freq = 200.0 + (j % 20) * 37.0
    amp = 0.15 + (j % 8) * 0.1
    t = np.arange(n, dtype=np.float64) / rate
    sig = amp * np.sin(2.0 * np.pi * freq * t)
    sig += 0.01 * rng.standard_normal(n)
    pcm = np.clip(np.round(sig * 32767.0), -32768, 32767).astype("<i2")
    if j % 12 == 11:
        data = _wav_bytes(pcm, rate)[:40]  # magic intact, chunks chopped
        return audio_ref(j), data, "wav_truncated"
    if j % 9 == 7:
        return audio_ref(j), _wav_bytes(pcm[:0], rate), "wav_empty"
    if j % 10 == 9:
        fake = b"OggS" + rng.integers(0, 256, 512).astype(np.uint8).tobytes()
        return audio_ref(j), fake, "compressed"
    if j % 8 == 4:  # real Ogg-FLAC: RFC 5334 pages (CRC-32 verified,
        # audio packet split across pages) + the native FLAC payload
        from ..functions.flac import encode_ogg_flac

        data = encode_ogg_flac(pcm.astype(np.int64), rate,
                               tags=_sniff_tags(j), max_body=1020)
        return audio_ref(j), data, "ogg_flac"
    if j % 6 == 1:  # real FLAC, mono fixed-predictor + rice
        from ..functions.flac import encode_flac

        data = encode_flac(pcm.astype(np.int64), rate, bits=16,
                           block_size=512, mode="fixed2")
        if j % 36 == 13:  # flip one payload byte: frame CRC refuses
            b = bytearray(data)
            b[-10] ^= 0xFF
            return audio_ref(j), bytes(b), "flac_corrupt"
        return audio_ref(j), data, "flac"
    if j % 6 == 3:  # real FLAC, mid/side stereo LPC
        from ..functions.flac import encode_flac

        st = np.stack(
            [pcm.astype(np.int64), pcm.astype(np.int64) // 3], axis=1
        )
        data = encode_flac(st, rate, bits=16, block_size=512,
                           mode="lpc", stereo="mid_side")
        return audio_ref(j), data, "flac"
    if j % 4 == 2:  # stereo: decode must average channels to mono
        stereo = np.empty(2 * n, dtype="<i2")
        stereo[0::2] = pcm
        stereo[1::2] = (pcm.astype(np.int32) // 2).astype("<i2")
        return audio_ref(j), _wav_bytes(stereo, rate, n_channels=2), "wav"
    return audio_ref(j), _wav_bytes(pcm, rate), "wav"


def audio_df(spark, cfg: CorpusConfig, n: int = N_AUDIO_CLIPS):
    return _generated_df(spark, n, 4, AUDIO_MEDIA_SCHEMA,
                         lambda j: [audio_item(cfg, j)])


# ---------------------------------------------------------------------------
# audio-container corpus (for functions/multimodal.audio_inventory) —
# hand-built deterministic payloads across every container the sniffer
# supports; only HEADERS need to be well-formed (the stage never
# decodes bitstreams), so bodies are rng filler

N_SNIFF_CLIPS = 36


def sniff_ref(j: int) -> str:
    return f"snd-{j:06d}"


def _flac_bytes(rate: int, channels: int, bits: int, total: int,
                md5: bytes, tags: dict | None = None) -> bytes:
    import struct

    packed = ((rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36)
              | total)
    si = (struct.pack(">HH", 1024, 1024) + b"\x00\x01\x00"
          + b"\x00\x02\x00" + packed.to_bytes(8, "big") + md5)
    if not tags:
        return b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + si
    vc = _vorbis_comment_payload(tags)
    return (b"fLaC" + bytes([0x00]) + (34).to_bytes(3, "big") + si
            + bytes([0x84]) + len(vc).to_bytes(3, "big") + vc)


def _vorbis_comment_payload(tags: dict) -> bytes:
    import struct

    vendor = b"spark-graft synthetic corpus"
    out = struct.pack("<I", len(vendor)) + vendor
    out += struct.pack("<I", len(tags))
    for k, v in tags.items():
        kv = f"{k.upper()}={v}".encode()
        out += struct.pack("<I", len(kv)) + kv
    return out


def _ogg_page(granule: int, body: bytes, seq: int) -> bytes:
    import struct

    return (b"OggS\x00\x02" + struct.pack("<q", granule)
            + struct.pack("<I", 7) + struct.pack("<I", seq)
            + b"\x00\x00\x00\x00" + bytes([1, len(body)]) + body)


def _mp3_bytes(n_frames: int, xing: bool = False,
               tags: dict | None = None) -> bytes:
    """Real MPEG1 Layer III frame SEQUENCE (128 kbps, 44100 Hz,
    stereo): n_frames valid headers at exact 417-byte CBR spacing, so
    the sniffer's frame walk counts them; xing=True plants a Xing VBR
    header (frame count) in frame 1; tags prepends an ID3v2.3 block.
    Frame BODIES are zeros — header/duration structure is what the
    container layer reads."""
    import struct

    flen = 144 * 128000 // 44100  # 417, padding bit clear
    frame = b"\xff\xfb\x90\x00" + b"\x00" * (flen - 4)
    frames = bytearray(frame * n_frames)
    if xing and n_frames:
        at = 4 + 32  # MPEG1 stereo side-info offset
        frames[at : at + 12] = (
            b"Xing" + struct.pack(">I", 0x1) + struct.pack(">I", n_frames)
        )
    head = b""
    if tags:
        fid = {"title": b"TIT2", "artist": b"TPE1", "album": b"TALB"}
        body = bytearray()
        for k, v in tags.items():
            payload = b"\x00" + v.encode("latin-1")
            body += fid[k] + struct.pack(">I", len(payload)) + b"\x00\x00"
            body += payload
        sz = len(body)
        head = b"ID3\x03\x00\x00" + bytes([
            (sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
            (sz >> 7) & 0x7F, sz & 0x7F,
        ]) + bytes(body)
    return head + bytes(frames)


def _adts_bytes(n_frames: int, rate_idx: int = 8, channels: int = 1,
                profile: int = 1, crc: bool = False,
                body_len: int = 160, rdb: int = 0) -> bytes:
    """Real ADTS AAC frame sequence (ISO 14496-3): n_frames valid
    headers with exact frame lengths; bodies are deterministic filler
    (the sniffer reads structure, never the codec payload).  crc=True
    emits the 9-byte protected-header layout; rdb plants
    raw_data_blocks_in_frame-1 (extra 1024-sample blocks/frame)."""
    out = bytearray()
    header_len = 9 if crc else 7
    fl = header_len + body_len
    for k in range(n_frames):
        b1 = 0xF0 | (0 if crc else 1)  # ID=0 (MPEG-4), layer 00
        b2 = ((profile << 6) | (rate_idx << 2)
              | ((channels >> 2) & 1))
        b3 = ((channels & 3) << 6) | ((fl >> 11) & 3)
        b4 = (fl >> 3) & 0xFF
        b5 = ((fl & 7) << 5) | 0x1F  # buffer fullness 0x7FF = VBR
        b6 = 0xFC | (rdb & 3)
        out += bytes([0xFF, b1, b2, b3, b4, b5, b6])
        if crc:
            out += b"\x00\x00"
        out += bytes((k + i) & 0xFF for i in range(body_len))
    return bytes(out)


def _sniff_tags(j: int) -> dict:
    """Deterministic tag triple for sniff-corpus index j."""
    return dict(
        title=f"TRACK {j:03d}",
        artist=("SYNTH ENSEMBLE", "CORPUS QUARTET")[j % 2],
        album="SPARK GRAFT VOL 1",
    )


def sniff_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str]:
    """(media_ref, bytes, kind) across the sniffer's branches: wav
    (RIFF INFO tags on evens), flac (exact duration + embedded PCM md5
    + Vorbis comments on odds), ogg_vorbis (comment packet, evens) /
    ogg_flac (REAL RFC 5334 stream on odds: exact duration, tags,
    STREAMINFO md5 through the Ogg layer) /
    ogg_opus (last-page granule duration), mp3 (REAL frame sequence —
    exact walked duration; Xing header on odds, ID3v2 when j%3==0),
    adts (REAL AAC frame walk — exact block-counted duration,
    alternating plain/CRC headers, a 2-blocks-per-frame layout, and
    LC/Main profiles), m4a (ISO-BMFF box tables through the shared
    mp4 walker — AAC and ALAC sample entries), flac_truncated and
    garbage (error rows)."""
    import struct

    rng = _rng(cfg.seed, _S_SNIFF, j)
    cls = j % 9
    if cls == 0:
        pcm = (rng.standard_normal(800) * 2000).astype("<i2")
        tags = _sniff_tags(j) if j % 2 == 0 else None
        return sniff_ref(j), _wav_bytes(pcm, 8000, tags=tags), "wav"
    if cls == 1:
        md5 = rng.integers(0, 256, 16).astype(np.uint8).tobytes()
        tags = _sniff_tags(j) if j % 2 == 1 else None
        return sniff_ref(j), _flac_bytes(
            44100, 1 + j % 2, 16, 44100 * (1 + j % 5), md5, tags=tags
        ), "flac"
    if cls == 2:
        if j % 2 == 1:  # real Ogg-FLAC stream: exact duration, tags,
            # embedded STREAMINFO md5 — all through the Ogg layer
            from ..functions.flac import encode_ogg_flac

            pcm = (rng.standard_normal(800 * (1 + j % 3))
                   * 2000).astype(np.int64)
            return sniff_ref(j), encode_ogg_flac(
                pcm, 8000, tags=_sniff_tags(j), max_body=510
            ), "ogg_flac"
        body = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
                + struct.pack("<I", 44100) + b"\x00" * 9)
        cbody = b"\x03vorbis" + _vorbis_comment_payload(_sniff_tags(j))
        data = (_ogg_page(0, body, 0) + _ogg_page(0, cbody, 1)
                + _ogg_page(44100 * (1 + j % 4), b"\x00" * 10, 2))
        return sniff_ref(j), data, "ogg_vorbis"
    if cls == 3:
        body = (b"OpusHead" + bytes([1, 1]) + struct.pack("<H", 312)
                + struct.pack("<I", 16000) + b"\x00\x00\x00")
        data = _ogg_page(0, body, 0) + _ogg_page(
            48000 * (1 + j % 3), b"\x00" * 10, 1
        )
        return sniff_ref(j), data, "ogg_opus"
    if cls == 4:
        tags = _sniff_tags(j) if j % 3 == 0 else None
        return sniff_ref(j), _mp3_bytes(
            20 * (1 + j % 4), xing=j % 2 == 1, tags=tags
        ), "mp3"
    if cls == 5:
        full = _flac_bytes(44100, 2, 16, 44100, bytes(16))
        return sniff_ref(j), full[:20], "flac_truncated"
    if cls == 6:
        # ADTS AAC — members are j ≡ 6 (mod 8), so variants rotate on
        # j//8: plain LC mono 16 kHz, CRC-protected stereo 44.1 kHz,
        # a 2-raw-blocks-per-frame layout, and the Main profile —
        # every header field the walk reads
        k = j // 9
        return sniff_ref(j), _adts_bytes(
            10 * (1 + j % 3),
            rate_idx=4 if k % 2 == 1 else 8,
            channels=1 + k % 2,
            profile=0 if k == 3 else 1,
            crc=k == 1,
            rdb=1 if k == 2 else 0,
        ), "adts"
    if cls == 7:
        # ISO-BMFF .m4a: box-table rate/channels/duration through the
        # shared mp4 walker; rotating mono/stereo and AAC/ALAC entries
        k = j // 9
        from ..functions.mp4 import encode_m4a

        return sniff_ref(j), encode_m4a(
            0.5 * (1 + j % 4),
            rate=22050 if k % 2 == 0 else 48000,
            channels=1 + k % 2,
            codec=b"alac" if k == 3 else b"mp4a",
            tags=_sniff_tags(j) if j % 2 == 1 else None,
        ), "m4a"
    # leading NUL: can never alias an mp3 frame sync or any magic
    return sniff_ref(j), b"\x00" + rng.integers(1, 255, 63).astype(
        np.uint8
    ).tobytes(), "garbage"


def sniff_df(spark, cfg: CorpusConfig, n: int = N_SNIFF_CLIPS):
    return _generated_df(spark, n, 4, AUDIO_MEDIA_SCHEMA,
                         lambda j: [sniff_item(cfg, j)])


# ---------------------------------------------------------------------------
# video corpus (for functions/multimodal.video_frame_features) — every
# clip a pure function of (seed, j); AVI containers with PNG frame
# payloads (the lossless-capture pattern), muxed by functions/avi.py

VIDEO_MEDIA_SCHEMA = "media_ref string, bytes binary, kind string"

N_VIDEO_CLIPS = 24  # fixed: goldens for this corpus are committed


def video_ref(j: int) -> str:
    return f"vid-{j:06d}"


def video_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str]:
    """(media_ref, bytes, kind).  Kind classes exercise every branch of
    the video frame-features row contract:

      avi            — REAL chain: container parse + PNG frame decode
                       + analyzer metrics (3-8 gradient+noise frames)
      mp4            — REAL chain via the OTHER container: ISO-BMFF
                       sample-table demux (functions/mp4.py) + the
                       same PNG frame decode + analyzer metrics
      mp4_mjpeg      — lossy codec inside the mp4 container: true
                       MJPEG samples demuxed + JPEG-decoded for real
      avi_mjpeg      — REAL chain through the LOSSY codec: true MJPEG
                       (per-frame baseline JPEGs, imaging/jpeg.py)
      avi_opaque     — real container parse, frames are a compressed
                       codec's bitstream (not PNG/JPEG) => per-frame
                       pixel-decode error rows, frame COUNT still right
      mkv_mjpeg      — Matroska V_MJPEG: EBML SimpleBlock demux
                       (functions/mkv.py) + JPEG decode + analyzer —
                       the third container through the full real chain
      avi_truncated  — RIFF/'AVI ' magic, chopped => per-clip error row
      webm           — EBML magic, garbage body => loud structural
                       refusal, one per-clip error row
    """
    from ..functions.avi import encode_avi
    from ..imaging.png import encode_png

    rng = _rng(cfg.seed, _S_VIDEO, j)
    w, h = 24, 16
    n_frames = 3 + (j % 6)
    if j % 20 == 17:
        data = (b"\x1a\x45\xdf\xa3"
                + rng.integers(0, 256, 128).astype(np.uint8).tobytes())
        return video_ref(j), data, "webm"
    if j % 10 == 9:
        from ..functions.mp4 import encode_mp4

        # alternate payload codec: lossless PNG frames vs true MJPEG
        # (baseline JPEGs) — the downstream pixel decode sniffs magic
        # bytes, so BOTH lossy-codec-in-mp4 and png-in-mp4 run the
        # whole real chain (container demux + codec + analyzer)
        mjpeg = j % 20 == 19
        if mjpeg:
            from ..imaging.jpeg import encode_jpeg
        frames = []
        for k in range(n_frames):
            ramp = (
                np.linspace(0, 255, w, dtype=np.float64)[None, :]
                + np.full((h, 1), 11.0 * k)
            )
            img = np.clip(
                ramp + rng.integers(0, 24, (h, w)), 0, 255
            ).astype(np.uint8)
            frames.append(encode_jpeg(img, quality=90) if mjpeg
                          else encode_png(img))
        data = encode_mp4(n_frames / 12.0,
                          codec=b"jpeg" if mjpeg else b"png ", width=w,
                          height=h, frames=frames)
        return video_ref(j), data, "mp4_mjpeg" if mjpeg else "mp4"
    if j % 8 == 5:
        frames = [
            rng.integers(0, 256, 192).astype(np.uint8).tobytes()
            for _ in range(n_frames)
        ]
        return (
            video_ref(j),
            encode_avi(frames, w, h, fps=12, fourcc=b"H264"),
            "avi_opaque",
        )
    if j % 14 == 11:
        # Matroska V_MJPEG: the THIRD container through the full real
        # chain — EBML SimpleBlock demux (functions/mkv.py) + baseline
        # JPEG decode + analyzer metrics
        from ..functions.mkv import encode_mkv
        from ..imaging.jpeg import encode_jpeg

        frames = []
        for k in range(n_frames):
            ramp = (
                np.linspace(0, 255, w, dtype=np.float64)[None, :]
                + np.full((h, 1), 10.0 * k)
            )
            img = np.clip(
                ramp + rng.integers(0, 24, (h, w)), 0, 255
            ).astype(np.uint8)
            frames.append(encode_jpeg(img, quality=90))
        data = encode_mkv(
            doctype="matroska", codec="V_MJPEG", width=w, height=h,
            duration_s=n_frames / 12.0,
            frames=[(83 * k, k == 0, f) for k, f in enumerate(frames)],
        )
        return video_ref(j), data, "mkv_mjpeg"
    if j % 6 == 3:
        # true MJPEG: every frame is an independent baseline JPEG
        # (imaging/jpeg.py) — the whole chain is real, lossy codec
        # included
        from ..imaging.jpeg import encode_jpeg

        frames = []
        for k in range(n_frames):
            ramp = (
                np.linspace(0, 255, w, dtype=np.float64)[None, :]
                + np.full((h, 1), 9.0 * k)
            )
            img = np.clip(
                ramp + rng.integers(0, 24, (h, w)), 0, 255
            ).astype(np.uint8)
            frames.append(encode_jpeg(img, quality=90))
        data = encode_avi(frames, w, h, fps=12, fourcc=b"MJPG")
        return video_ref(j), data, "avi_mjpeg"
    frames = []
    for k in range(n_frames):
        # moving gradient + per-frame noise: distinct, decodable frames
        ramp = (
            np.linspace(0, 255, w, dtype=np.float64)[None, :]
            + np.full((h, 1), 8.0 * k)
        )
        img = np.clip(
            ramp + rng.integers(0, 24, (h, w)), 0, 255
        ).astype(np.uint8)
        frames.append(encode_png(img))
    data = encode_avi(frames, w, h, fps=12, fourcc=b"PNG ")
    if j % 12 == 7:
        return video_ref(j), data[: len(data) // 3], "avi_truncated"
    return video_ref(j), data, "avi"


def video_df(spark, cfg: CorpusConfig, n: int = N_VIDEO_CLIPS):
    return _generated_df(spark, n, 4, VIDEO_MEDIA_SCHEMA,
                         lambda j: [video_item(cfg, j)])


# ---------------------------------------------------------------------------
# video-container sniff corpus (for multimodal.video_inventory) — the
# video twin of sniff_df: AVI via the real encode_avi writer, mp4 via
# the real functions/mp4.encode_mp4 writer, plus webm-magic /
# truncated / foreign error classes

N_VIDEO_SNIFF_CLIPS = 21


def vsniff_ref(j: int) -> str:
    return f"vid-{j:06d}"


def video_sniff_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str]:
    """(media_ref, bytes, kind) across video_inventory's branches:
    avi (RIFF hdrl metadata), mp4_avc1 / mp4_hev1 (ISO-BMFF moov
    metadata, varied dims/durations), webm (EBML magic => loud
    container-specific refusal), mp4_truncated and garbage (error
    rows)."""
    from ..functions.avi import encode_avi
    from ..functions.mp4 import encode_mp4

    rng = _rng(cfg.seed, _S_VSNIFF, j)
    cls = j % 7
    if cls in (0, 1):
        frames = [
            rng.integers(0, 256, 128).astype(np.uint8).tobytes()
            for _ in range(3 + j % 5)
        ]
        return vsniff_ref(j), encode_avi(
            frames, 32 + 8 * (j % 3), 24, fps=10 + (j % 3),
            fourcc=b"MJPG" if cls else b"PNG ",
        ), "avi"
    if cls in (2, 3):
        codec = b"avc1" if cls == 2 else b"hev1"
        data = encode_mp4(
            duration_s=2.0 + (j % 9) * 1.5,
            codec=codec, width=320 + 64 * (j % 4),
            height=180 + 36 * (j % 4), n_frames=24 * (1 + j % 6),
            mdat=rng.integers(0, 256, 256).astype(np.uint8).tobytes(),
            # the phone-camera display rotation rides the tkhd matrix
            rotation=(0, 90, 180, 270)[(j // 7) % 4],
        )
        return vsniff_ref(j), data, f"mp4_{codec.decode()}"
    if cls == 4:
        data = encode_mp4(5.0)
        return vsniff_ref(j), data[: 40 + j % 20], "mp4_truncated"
    if cls == 5:
        # REAL webm/matroska (functions/mkv.py writer).  webm: a
        # structurally-valid Cluster of SimpleBlocks whose payloads
        # are an opaque VP9-ish bitstream — the BLOCK layer demuxes
        # (n_frames real), pixel decode is the codec seam.  matroska:
        # a garbage cluster — metadata still parses, block count
        # unknowable (the try/except-None inventory path).
        from ..functions.mkv import encode_mkv

        webm = j % 2 == 0
        if webm:
            frames = [
                (33 * k, k == 0,
                 rng.integers(0, 256, 96).astype(np.uint8).tobytes())
                for k in range(2 + j % 4)
            ]
            cluster, frames_arg = b"", frames
        else:
            cluster = rng.integers(0, 256, 128).astype(
                np.uint8).tobytes()
            frames_arg = None
        data = encode_mkv(
            doctype="webm" if webm else "matroska",
            codec="V_VP9" if webm else "V_MPEG4/ISO/AVC",
            width=320 + 64 * (j % 4), height=180 + 36 * (j % 4),
            duration_s=1.5 + (j % 5) * 2.25,
            cluster=cluster, frames=frames_arg,
        )
        return vsniff_ref(j), data, "webm" if webm else "matroska"
    return vsniff_ref(j), b"\x00" + rng.integers(1, 255, 63).astype(
        np.uint8
    ).tobytes(), "garbage"


def video_sniff_df(spark, cfg: CorpusConfig, n: int = N_VIDEO_SNIFF_CLIPS):
    return _generated_df(spark, n, 4, VIDEO_MEDIA_SCHEMA,
                         lambda j: [video_sniff_item(cfg, j)])


# ---------------------------------------------------------------------------
# scan-format corpus (imaging/{bmp,pnm,tiff}.py + codecs.decode_image)
# — the rest of the imdecode input matrix (preprocessor.go:64): every
# container a user of the reference could hand the OCR path, rendered
# text inside so the full decode -> preprocess -> OCR chain is
# ground-truth-checkable per format.  Multi-page TIFF is the fax/
# flatbed scan shape: one file, one page per IFD.

_S_SCANFMT = 13
N_SCAN_IMAGES = 63

SCAN_MEDIA_SCHEMA = "media_ref string, bytes binary, kind string"

_SCAN_CLASSES = (
    "bmp_gray", "bmp_rgb", "pgm", "ppm", "pbm",
    "tiff_none", "tiff_lzw", "tiff_packbits_bilevel",
    "tiff_deflate_pred", "tiff_multipage", "tiff_tiled", "webp",
    "jpeg_progressive", "pnm_16bit",
    "gif", "gif_interlaced", "gif_animated", "ico_png", "ico_bmp",
    "jpeg_exif", "err_webp_lossy", "err_foreign",
)


def scanfmt_ref(j: int) -> str:
    return f"scan-{j:06d}"


def scan_format_item(
    cfg: CorpusConfig, j: int
) -> tuple[str, bytes, str, list[str]]:
    """(media_ref, bytes, kind, true_page_texts) across decode_image's
    sniffing branches.  OCR-able classes carry render_text output
    (scale 3 so glyphs survive any binarization) and report the
    rendered truth per page for ground-truth tests; pnm_16bit emits
    maxval-65535 samples (v*257 big-endian) that must FOLD exactly
    back to the rendered page (the OpenCV imdecode convert-down); the
    err_* classes pin the refuse-loudly contract (lossy VP8 in a real
    WEBP container, foreign magic) and report no truth."""
    import struct

    from ..imaging.bmp import encode_bmp
    from ..imaging.pnm import encode_pnm
    from ..imaging.tiff import encode_tiff
    from ..imaging.webp import encode_webp

    rng = _rng(cfg.seed, _S_SCANFMT, j)
    kind = _SCAN_CLASSES[j % len(_SCAN_CLASSES)]
    truths: list[str] = []

    def page() -> np.ndarray:
        n_lines = int(rng.integers(1, 3))
        text = "\n".join(
            _words(rng, _FONT_WORDS, int(rng.integers(2, 4)))
            for _ in range(n_lines)
        )
        truths.append(text.upper())
        return render_text(text, scale=3)

    if kind == "bmp_gray":
        blob = encode_bmp(page())
    elif kind == "bmp_rgb":
        blob = encode_bmp(np.repeat(page()[:, :, None], 3, axis=2))
    elif kind == "pgm":
        blob = encode_pnm(page())
    elif kind == "ppm":
        blob = encode_pnm(np.repeat(page()[:, :, None], 3, axis=2))
    elif kind == "pbm":
        blob = encode_pnm(page(), bitmap=True)
    elif kind == "tiff_none":
        blob = encode_tiff([page()], "none")
    elif kind == "tiff_lzw":
        blob = encode_tiff([page()], "lzw")
    elif kind == "tiff_packbits_bilevel":
        blob = encode_tiff([page()], "packbits", bilevel=True)
    elif kind == "tiff_deflate_pred":
        blob = encode_tiff([page()], "deflate", predictor=True)
    elif kind == "tiff_multipage":
        # j walks this class in len(_SCAN_CLASSES) strides, so derive
        # the page count from the stride index to actually vary 2..4
        n_pages = 2 + (j // len(_SCAN_CLASSES)) % 3
        blob = encode_tiff([page() for _ in range(n_pages)], "lzw")
    elif kind == "tiff_tiled":
        blob = encode_tiff([page()], "lzw", tiled=True)
    elif kind == "webp":
        blob = encode_webp(page())
    elif kind == "jpeg_progressive":
        from ..imaging.jpeg import encode_jpeg_progressive

        blob = encode_jpeg_progressive(page(), quality=92)
    elif kind == "pnm_16bit":
        img = page()
        wide = (img.astype(np.uint16) * 257).astype(">u2")
        blob = (b"P5\n%d %d\n65535\n" % (img.shape[1], img.shape[0])
                + wide.tobytes())
    elif kind == "gif":
        from ..imaging.gif import encode_gif

        blob = encode_gif(page())
    elif kind == "gif_interlaced":
        from ..imaging.gif import encode_gif

        blob = encode_gif(page(), interlace=True)
    elif kind == "gif_animated":
        from ..imaging.gif import encode_gif

        # frame-per-page, same stride-derived count trick as
        # tiff_multipage; frames must share dimensions, so pad each
        # rendered page onto a common white canvas
        n_frames = 2 + (j // len(_SCAN_CLASSES)) % 3
        pages = [page() for _ in range(n_frames)]
        hh = max(p.shape[0] for p in pages)
        ww = max(p.shape[1] for p in pages)
        canv = []
        for p in pages:
            c = np.full((hh, ww), 255, np.uint8)
            c[: p.shape[0], : p.shape[1]] = p
            canv.append(c)
        blob = encode_gif(canv, delay_cs=8)
    elif kind in ("ico_png", "ico_bmp"):
        # favicon entries store sizes in one byte (max 256), so render
        # a short one-liner at scale 2 — two _FONT_WORDS max out at
        # 196 px wide, comfortably inside the format's ceiling
        text = _words(rng, _FONT_WORDS, 2)
        truths.append(text.upper())
        img = render_text(text, scale=2)
        if kind == "ico_png":
            from ..imaging.ico import encode_ico

            blob = encode_ico(img)
        else:
            from ..imaging.ico import encode_ico_bmp

            blob = encode_ico_bmp(img)
    elif kind == "jpeg_exif":
        # sideways phone-camera capture: pixels STORED rotated, the
        # EXIF orientation tag says how to right them — 90° is
        # outside the deskew estimator's range, so only the tag makes
        # this class OCR-able.  Stride index rotates through the
        # non-trivial orientations (6 = 90° CW capture, 8 = CCW,
        # 3 = upside down, 5 = transposed).
        from ..imaging.codecs import apply_exif_orientation
        from ..imaging.jpeg import add_exif_orientation, encode_jpeg

        o = (6, 8, 3, 5)[(j // len(_SCAN_CLASSES)) % 4]
        upright = page()
        # store the INVERSE-transformed pixels so applying o rights them
        inv = {6: 8, 8: 6, 3: 3, 5: 5}[o]
        stored = np.ascontiguousarray(
            apply_exif_orientation(upright, inv))
        blob = add_exif_orientation(
            encode_jpeg(stored, quality=95), o)
    elif kind == "err_webp_lossy":
        # a real RIFF/WEBP container whose codec chunk is lossy VP8 —
        # must refuse by NAME, not as unknown magic
        body = rng.integers(0, 256, 48).astype(np.uint8).tobytes()
        blob = (b"RIFF" + struct.pack("<I", 4 + 8 + len(body))
                + b"WEBP" + b"VP8 " + struct.pack("<I", len(body)) + body)
    else:  # err_foreign: JPEG-2000 signature box — outside the matrix
        blob = (b"\x00\x00\x00\x0cjP  \r\n\x87\n" + rng.integers(
            0, 256, 32).astype(np.uint8).tobytes())
    return scanfmt_ref(j), blob, kind, truths


def scan_format_df(spark, cfg: CorpusConfig, n: int = N_SCAN_IMAGES):
    return _generated_df(spark, n, 4, SCAN_MEDIA_SCHEMA,
                         lambda j: [scan_format_item(cfg, j)[:3]])


# ---------------------------------------------------------------------------
# WARC corpus (for functions/warc.warc_records + the warc->html
# main-content composition) — real archives built by the real writer,
# html payloads from the SAME make_html generator the extraction
# corpus uses

N_WARC_FILES = 16
_S_WARC = 9


def warc_ref(j: int) -> str:
    return f"warc-{j:06d}"


# legacy-web word pool for the charset pages: latin-1/cp1252-encodable
# diacritics plus, where the variant calls for it, the euro sign (the
# byte that separates cp1252 from ISO-8859-1)
_LEGACY_WORDS = (
    "café naïve déjà señor jalapeño crème brûlée über fjörd résumé "
    "piñata touché entrée façade garçon"
).split()


def _charset_page(rng: np.random.Generator, variant: str,
                  ) -> tuple[str, bytes]:
    """(content-type, payload bytes) for one legacy-web page class —
    the non-UTF-8 shapes a real crawl delivers, each resolved by a
    DIFFERENT source in functions/charset.py:

      http_latin1      — HTTP header says ISO-8859-1 (meaning cp1252,
                         the WHATWG alias), latin-1 bytes
      meta_cp1252      — no header param; <meta charset> declares
                         windows-1252; body carries a euro (0x80)
      bom_utf16        — UTF-16LE with BOM, no declarations at all
      undeclared_utf8  — non-ASCII UTF-8, nothing declared: only
                         strict-validation identifies it
      undeclared_latin1 — latin-1 bytes, nothing declared anywhere:
                         the cp1252 FALLBACK of last resort
      mojibake         — header LIES (says utf-8) over latin-1 bytes:
                         total decode, U+FFFD in the text, row flows
    """
    para = " ".join(
        _LEGACY_WORDS[int(rng.integers(0, len(_LEGACY_WORDS)))]
        for _ in range(12)
    )
    nav = '<nav><ul><li><a href="/x">home</a></li></ul></nav>'
    if variant == "meta_cp1252":
        head = '<head><meta charset="windows-1252"></head>'
        para = para + " price €9"
    else:
        head = "<head><title>t</title></head>"
    doc = (f"<html>{head}<body>{nav}"
           f'<div class="content"><p>{para}</p></div>'
           "<footer><p>fine print</p></footer></body></html>")
    if variant == "http_latin1":
        return "text/html; charset=ISO-8859-1", doc.encode("latin-1")
    if variant == "meta_cp1252":
        return "text/html", doc.encode("cp1252")
    if variant == "bom_utf16":
        return "text/html", b"\xff\xfe" + doc.encode("utf-16-le")
    if variant == "undeclared_utf8":
        return "text/html", doc.encode("utf-8")
    if variant == "undeclared_latin1":
        return "text/html", doc.encode("latin-1")
    # mojibake: declared utf-8, actual latin-1 bytes
    return "text/html; charset=utf-8", doc.encode("latin-1")


_CHARSET_VARIANTS = ("http_latin1", "meta_cp1252", "bom_utf16",
                     "undeclared_utf8", "undeclared_latin1", "mojibake")


def warc_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str]:
    """(warc_ref, bytes, kind).  Kind classes:

      warc           — plain WARC/1.0: warcinfo + request/response
                       pairs (html 200s from make_html, the five
                       legacy-charset pages from _charset_page, one
                       image/png, one 404, one 301 redirect)
      warc_gz        — the SAME record mix, per-record gzip members
                       (the .warc.gz crawl layout)
      warc_truncated — chopped mid-block => one loud error row
      garbage        — foreign bytes => one loud error row
    """
    from ..functions.warc import encode_warc

    rng = _rng(cfg.seed, _S_WARC, j)
    if j % 8 == 6:
        data = encode_warc([dict(
            type="response", url=f"http://s{j}.example/x",
            http_status=200, mime="text/html",
            payload=b"<html><p>x</p></html>")])
        return warc_ref(j), data[: 50 + int(rng.integers(0, 20))], \
            "warc_truncated"
    if j % 8 == 7:
        return warc_ref(j), b"\x00" + rng.integers(1, 255, 63).astype(
            np.uint8).tobytes(), "garbage"
    recs = [dict(type="warcinfo",
                 payload=f"software: synth-crawler/{j}\r\n".encode())]
    n_pages = 2 + j % 3
    for k in range(n_pages):
        url = f"http://site{j % 5}.example/page/{j}-{k}"
        recs.append(dict(type="request", url=url,
                         payload=f"GET /page/{j}-{k} HTTP/1.1\r\n\r\n"
                         .encode()))
        html_doc, _main = make_html(rng)
        recs.append(dict(type="response", url=url, http_status=200,
                         mime="text/html",
                         payload=html_doc.encode()))
    for v, variant in enumerate(_CHARSET_VARIANTS):
        mime, payload = _charset_page(rng, variant)
        recs.append(dict(
            type="response",
            url=f"http://site{j % 5}.example/legacy/{variant}",
            http_status=200, mime=mime, payload=payload))
    # wire-layout pages: WARC stores the HTTP bytes verbatim, so real
    # crawl responses arrive chunked and/or content-encoded — one page
    # per layout (rotating the deflate dialect by archive), plus the
    # refusal class (brotli, no codec in-repo -> per-record error row)
    wire_html, _main = make_html(rng)
    for layout, kw in (
        ("chunked", dict(transfer_chunked=True)),
        ("gzip", dict(content_encoding="gzip")),
        ("gzip_chunked", dict(content_encoding="gzip",
                              transfer_chunked=True)),
        ("deflate", dict(content_encoding=(
            "deflate" if j % 2 == 0 else "deflate-raw"))),
    ):
        recs.append(dict(
            type="response",
            url=f"http://site{j % 5}.example/wire/{layout}",
            http_status=200, mime="text/html",
            payload=wire_html.encode(), **kw))
    recs.append(dict(
        type="response", url=f"http://site{j % 5}.example/wire/br",
        http_status=200, mime="text/html", content_encoding="br",
        payload=rng.integers(0, 256, 64).astype(np.uint8).tobytes()))
    recs.append(dict(
        type="response", url=f"http://site{j % 5}.example/logo.png",
        http_status=200, mime="image/png",
        payload=b"\x89PNG\r\n\x1a\n"
        + rng.integers(0, 256, 48).astype(np.uint8).tobytes()))
    recs.append(dict(type="response",
                     url=f"http://site{j % 5}.example/gone",
                     http_status=404, mime="text/html",
                     payload=b"not found"))
    recs.append(dict(type="response",
                     url=f"http://site{j % 5}.example/moved",
                     http_status=301, mime="text/html", payload=b"",
                     location=f"https://site{j % 5}.example/new-home"))
    recs.append(dict(type="response",
                     url=f"http://site{j % 5}.example/broken-redirect",
                     http_status=302, mime="text/html", payload=b""))
    gz = j % 2 == 1
    return warc_ref(j), encode_warc(recs, gzip_members=gz), (
        "warc_gz" if gz else "warc")


def warc_df(spark, cfg: CorpusConfig, n: int = N_WARC_FILES):
    return _generated_df(spark, n, 4,
                         "warc_ref string, bytes binary, kind string",
                         lambda j: [warc_item(cfg, j)])


# ---------------------------------------------------------------------------
# PDF corpus (for functions/pdf.pdf_text) — deterministic minimal
# writers (one classic-xref serializer, stream-object helper and
# text-page skeleton; FlateDecode or stored) + per-class degradations

PDF_MEDIA_SCHEMA = "media_ref string, bytes binary, kind string"

N_PDF_DOCS = 48  # fixed: goldens for this corpus are committed

# Bump when any generator's OUTPUT changes: consumers that cache a
# materialized corpus on disk (bench.py's /tmp parquet) key their cache
# dirs on this, so a generator edit cannot silently benchmark (or
# golden-check) a stale corpus.  tests/test_corpus_pins.py pins the
# bytes of every PDF corpus and writer option, so an unbumped change
# to a PDF writer's output fails there.
CORPUS_VERSION = 2

# The four-kind interleaved corpus (text/html/image/pdf in one doc
# stream) — single source of truth shared by queries.q_extract_interleaved
# and scripts/gen_fixtures.gen_interleaved_spans, so goldens can never be
# generated for a different corpus than the query runs (review finding).
INTERLEAVED_CORPUS = None  # assigned below, after CorpusConfig exists


def pdf_ref(j: int) -> str:
    return f"pdf-{j:06d}"


def _pdf_string(s: str | bytes) -> bytes:
    """A PDF literal string `(…)`: str is latin-1, and backslash and
    parentheses are escaped."""
    b = s.encode("latin-1") if isinstance(s, str) else s
    return b"(" + (
        b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    ) + b")"


def _rl_encode(data: bytes) -> bytes:
    """RunLengthDecode-compatible encoder (ISO 32000-1 §7.4.5):
    runs of >= 3 as repeats, literals chunked at 128, EOD byte."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        run = 1
        while pos + run < n and run < 128 and data[pos + run] == data[pos]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[pos]])
            pos += run
            continue
        lit_end = pos + 1
        while (
            lit_end < n and lit_end - pos < 128
            and not (
                lit_end + 2 < n
                and data[lit_end] == data[lit_end + 1] == data[lit_end + 2]
            )
        ):
            lit_end += 1
        out += bytes([lit_end - pos - 1]) + data[pos:lit_end]
        pos = lit_end
    out.append(128)
    return bytes(out)


def classic_pdf_bytes(
    objs: list[bytes | None], trailer: bytes = b"/Root 1 0 R"
) -> bytes:
    """The one classic-xref file layout every `%PDF-1.4` writer here
    emits: object k + 1 is `objs[k]`, then the xref table, the trailer
    (/Size, then the `trailer` entries) and startxref.  A None slot
    writes no object, and its xref row reads offset 0."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, 1):
        offsets.append(0 if body is None else len(out))
        if body is not None:
            out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += b"trailer\n<< /Size %d %s >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, trailer, xref_at)
    return bytes(out)


def _stream(payload: bytes, head: bytes = b"", tail: bytes = b"") -> bytes:
    """A stream object body, `<< head/Length n tail >>` + the payload:
    `head` entries end in a space, `tail` entries start with one."""
    return (b"<< " + head + b"/Length %d" % len(payload) + tail
            + b" >>\nstream\n" + payload + b"\nendstream")


def _image(payload: bytes, w: int, h: int, cs: bytes = b"/DeviceGray",
           bpc: int = 8, entries: bytes = b" /Filter /FlateDecode") -> bytes:
    """An image XObject body; `entries` follow /BitsPerComponent."""
    return _stream(payload, b"/Subtype /Image /Width %d /Height %d"
                   b" /ColorSpace %s /BitsPerComponent %d%s "
                   % (w, h, cs, bpc, entries))


def _filtered_stream(content: bytes, mode: str | None) -> bytes:
    """A content stream object under a named decode pipeline — the
    writer half of functions/pdf's filter chain ('flate', 'lzw',
    'a85flate', 'rl'); None stores it unfiltered."""
    import base64
    import zlib

    if mode is None:
        return _stream(content)
    if mode == "flate":
        return _stream(zlib.compress(content), tail=b" /Filter /FlateDecode")
    if mode == "lzw":
        from ..imaging.tiff import lzw_encode

        return _stream(lzw_encode(content), tail=b" /Filter /LZWDecode")
    if mode == "a85flate":
        payload = base64.a85encode(zlib.compress(content)) + b"~>"
        return _stream(payload,
                       tail=b" /Filter [/ASCII85Decode /FlateDecode]")
    if mode == "rl":
        return _stream(_rl_encode(content), tail=b" /Filter /RunLengthDecode")
    raise ValueError(f"unknown stream filter mode {mode!r}")


def _page_tree(kids: list[int]) -> list[bytes]:
    """Objects 1 and 2: the catalog and the page tree over `kids`."""
    return [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [" + b" ".join(b"%d 0 R" % k for k in kids)
        + b"] /Count %d >>" % len(kids),
    ]


def _tj_lines(lines: list[str], operand=_pdf_string) -> bytes:
    """One text page's content: one Tj per line from 72 720, 14 pt
    apart, in font /F1 at 12 pt.  `operand(line)` is the Tj string."""
    parts = [b"BT /F1 12 Tf 72 720 Td"]
    for k, line in enumerate(lines):
        if k:
            parts.append(b"0 -14 Td")
        parts.append(operand(line) + b" Tj")
    parts.append(b"ET")
    return b" ".join(parts)


def _text_pdf(contents: list[bytes], fonts: list[bytes]) -> list[bytes]:
    """Object bodies of a text PDF: catalog, page tree, the `fonts`
    (object 3 is the pages' /F1), then per page a US Letter page dict
    and its content stream object from `contents`."""
    objs = _page_tree([3 + len(fonts) + 2 * i for i in range(len(contents))])
    objs += fonts
    for content in contents:
        objs += [
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>"
            % (len(objs) + 2),
            content,
        ]
    return objs


_HELVETICA = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

_INFO_KEYS = (("title", b"/Title"), ("author", b"/Author"),
              ("subject", b"/Subject"), ("producer", b"/Producer"),
              ("created", b"/CreationDate"))

# (key, open, close) of each XMP field, in packet order
_XMP_FIELDS = (
    ("title", b"<dc:title><rdf:Alt><rdf:li xml:lang=\"x-default\">",
     b"</rdf:li></rdf:Alt></dc:title>"),
    ("author", b"<dc:creator><rdf:Seq><rdf:li>",
     b"</rdf:li></rdf:Seq></dc:creator>"),
    ("subject", b"<dc:description><rdf:Alt><rdf:li>",
     b"</rdf:li></rdf:Alt></dc:description>"),
    ("producer", b"<pdf:Producer>", b"</pdf:Producer>"),
    ("created", b"<xmp:CreateDate>", b"Z</xmp:CreateDate>"),
)


def make_pdf_bytes(
    pages: list[list[str]], compress: bool = False,
    stream_filter: str | None = None,
    info: dict | None = None, info_utf16: bool = False,
    xmp: dict | None = None,
) -> bytes:
    """Minimal structurally-correct PDF writer: catalog -> page tree ->
    one content stream per page (one Tj per line), valid xref +
    trailer, direct /Length on every stream.  Deterministic.
    `stream_filter` selects a _filtered_stream pipeline for the content
    streams (overrides `compress`; compress=True stays byte-identical
    to the historical Flate output).  `info` adds an /Info dictionary
    (keys among title/author/subject/producer/created — created is a
    raw `D:…` PDF date string); info_utf16 writes the Title as a
    BOM-led UTF-16BE hex string (§7.9.2.2's other branch).  `xmp`
    (same keys, created as ISO-8601) writes a catalog /Metadata XMP
    packet instead — the modern-generator metadata channel."""
    from xml.sax.saxutils import escape

    mode = stream_filter or ("flate" if compress else None)
    objs = _text_pdf(
        [_filtered_stream(_tj_lines(lines), mode) for lines in pages],
        [_HELVETICA],
    )
    trailer = b"/Root 1 0 R"
    if info:
        entries = []
        for field, key in _INFO_KEYS:
            v = info.get(field)
            if v is None:
                continue
            if field == "title" and info_utf16:
                hx = (b"\xfe\xff" + v.encode("utf-16-be")).hex()
                entries.append(key + b" <" + hx.encode() + b">")
            else:
                entries.append(key + b" " + _pdf_string(v))
        objs.append(b"<< " + b" ".join(entries) + b" >>")
        trailer += b" /Info %d 0 R" % len(objs)
    if xmp:
        xml = (
            b"<?xpacket begin=\"\xef\xbb\xbf\""
            b" id=\"W5M0MpCehiHzreSzNTczkc9d\"?>\n"
            b"<x:xmpmeta xmlns:x=\"adobe:ns:meta/\">"
            b"<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/"
            b"22-rdf-syntax-ns#\">"
            b"<rdf:Description rdf:about=\"\""
            b" xmlns:dc=\"http://purl.org/dc/elements/1.1/\""
            b" xmlns:xmp=\"http://ns.adobe.com/xap/1.0/\""
            b" xmlns:pdf=\"http://ns.adobe.com/pdf/1.3/\">"
            + b"".join(
                open_ + escape(xmp[field]).encode("utf-8") + close
                for field, open_, close in _XMP_FIELDS if xmp.get(field)
            )
            + b"</rdf:Description></rdf:RDF></x:xmpmeta>\n"
            b"<?xpacket end=\"w\"?>"
        )
        objs.append(_stream(xml, b"/Type /Metadata /Subtype /XML "))
        objs[0] = b"<< /Type /Catalog /Pages 2 0 R /Metadata %d 0 R >>" % (
            len(objs))
    return classic_pdf_bytes(objs, trailer)


def make_type0_pdf_bytes(
    pages: list[list[str]], compress: bool = False
) -> bytes:
    """Type0/CID-font PDF writer (ISO 32000-1 §9.7/§9.10) — the shape
    essentially every modern generator emits: strings are 2-BYTE GLYPH
    IDS (here gid = ord(ch) + 0x100, so a latin-1 byte reading is
    provably garbage), and the page font carries a /ToUnicode CMap
    mapping gids back to text.  The CMap deliberately uses BOTH entry
    forms — one incrementing bfrange for a-z plus bfchar pairs for
    every other character used — so the extractor's range and char
    paths are each load-bearing.  Same object skeleton as
    make_pdf_bytes."""
    used = sorted({ch for pg in pages for ln in pg for ch in ln})
    bfchars = [ch for ch in used if not ("a" <= ch <= "z")]
    cmap = bytearray(
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"1 beginbfrange\n"
        b"<0161> <017a> <0061>\n"
        b"endbfrange\n"
    )
    if bfchars:
        cmap += f"{len(bfchars)} beginbfchar\n".encode()
        for ch in bfchars:
            cmap += (f"<{ord(ch) + 0x100:04x}> <{ord(ch):04x}>\n"
                     .encode())
        cmap += b"endbfchar\n"
    cmap += b"endcmap\nend\n"

    def gids(line: str) -> bytes:
        return b"<" + "".join(f"{ord(ch) + 0x100:04x}" for ch in line
                              ).encode() + b">"

    mode = "flate" if compress else None
    return classic_pdf_bytes(_text_pdf(
        [_filtered_stream(_tj_lines(lines, gids), mode) for lines in pages],
        [b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-Identity-H"
         b" /Encoding /Identity-H /ToUnicode 4 0 R >>", _stream(bytes(cmap))],
    ))


def make_differences_pdf_bytes(pages: list[list[str]]) -> bytes:
    """Subsetted-simple-font PDF writer (§9.6.5): every used character
    is assigned a HIGH code (128+) and the font carries /Encoding
    << /Differences [128 /glyphname …] >> mapping codes back through
    standard AGL glyph names — so a latin-1 byte reading is provably
    garbage and only the Differences table recovers the text.  Same
    object skeleton as make_pdf_bytes."""
    from ..functions.pdf import _AGL_SUBSET

    glyph_of = {ch: name for name, ch in _AGL_SUBSET.items()
                if len(ch) == 1}
    used = sorted({ch for pg in pages for ln in pg for ch in ln})
    if len(used) > 96:
        raise ValueError("differences writer: too many distinct chars")
    unknown = [ch for ch in used if ch not in glyph_of]
    if unknown:
        raise ValueError(
            f"differences writer: no glyph name for {unknown!r}")
    code_of = {ch: 128 + i for i, ch in enumerate(used)}
    diffs = b"128 " + b" ".join(
        b"/" + glyph_of[ch].encode("ascii") for ch in used
    )
    return classic_pdf_bytes(_text_pdf(
        [_stream(_tj_lines(
            lines, lambda ln: _pdf_string(bytes(code_of[ch] for ch in ln))))
         for lines in pages],
        [b"<< /Type /Font /Subtype /Type1 /BaseFont /Synth-Subset"
         b" /Encoding << /Type /Encoding /Differences [" + diffs
         + b"] >> >>"],
    ))


def make_pdf15_bytes(
    pages: list[list[str]], encrypt_r: int | None = None,
    user_pw: bytes = b"", owner_pw: bytes = b"owner",
) -> bytes:
    """PDF 1.5 compressed-object layout (ISO 32000-1 §7.5.7-7.5.8),
    the structure most post-2005 generators emit: catalog / page tree /
    font / page dicts live inside a Flate /ObjStm, the cross-reference
    is a binary /XRef STREAM (W [1 2 2], type-1 rows for top-level
    objects, type-2 rows for ObjStm members), and there is NO 'trailer'
    keyword — the XRef stream's dict is the trailer.  Content streams
    stay top-level (streams may not live inside an ObjStm).
    Deterministic, like make_pdf_bytes.

    encrypt_r (None/2/3/4/6) adds standard-security-handler encryption
    IN this layout — /Encrypt lives in the XRef stream's dict, stream
    payloads (content streams AND the ObjStm) are ciphered, the XRef
    stream itself stays plaintext per §7.5.8.2 — the modern
    "AES + xref streams" shape virtually every post-2005 encrypted
    PDF has."""
    import struct
    import zlib

    flate = b" /Filter /FlateDecode"
    n = len(pages)
    # object numbering: 1..n content streams, n+1 ObjStm, then the
    # ObjStm members (catalog n+2, pages n+3, font n+4, page dicts
    # n+5..), the /Encrypt dict (when encrypting), and the /XRef
    # stream last
    objstm_num = n + 1
    cat, pgs, font = n + 2, n + 3, n + 4
    page_nums = [n + 5 + i for i in range(n)]
    enc_num = n + 5 + n if encrypt_r is not None else None
    xref_num = n + 5 + n + (1 if encrypt_r is not None else 0)
    size = xref_num + 1

    file_id = b"\x15" * 16
    if encrypt_r is not None:
        from ..functions.pdfcrypt import writer_material

        enc_dict, cipher = writer_material(
            encrypt_r, 128, user_pw, owner_pw, file_id
        )
    else:
        enc_dict, cipher = b"", lambda _num, payload: payload

    contents = [
        _stream(cipher(i + 1, zlib.compress(_tj_lines(lines))), tail=flate)
        for i, lines in enumerate(pages)
    ]
    kids = " ".join(f"{p} 0 R" for p in page_nums).encode()
    members: list[tuple[int, bytes]] = [
        (cat, b"<< /Type /Catalog /Pages " + str(pgs).encode()
         + b" 0 R >>"),
        (pgs, b"<< /Type /Pages /Kids [" + kids + b"] /Count "
         + str(n).encode() + b" >>"),
        (font, _HELVETICA),
    ]
    for i, p in enumerate(page_nums):
        members.append((
            p,
            b"<< /Type /Page /Parent " + str(pgs).encode()
            + b" 0 R /MediaBox [0 0 612 792] /Resources"
            b" << /Font << /F1 3 0 R >> >> /Contents "
            + str(i + 1).encode() + b" 0 R >>",
        ))
    bodies = b" ".join(b for _, b in members)
    offs, pos = [], 0
    for _, b in members:
        offs.append(pos)
        pos += len(b) + 1  # the joining space
    header = " ".join(
        f"{num} {off}" for (num, _), off in zip(members, offs)
    ).encode() + b"\n"
    objstm = _stream(
        cipher(objstm_num, zlib.compress(header + bodies)),
        b"/Type /ObjStm /N %d /First %d " % (len(members), len(header)),
        flate,
    )

    out = bytearray(b"%PDF-1.5\n")
    top_offsets: dict[int, int] = {}
    top_objs = [*zip(range(1, n + 1), contents), (objstm_num, objstm)]
    if enc_num is not None:
        top_objs.append((enc_num, enc_dict))
    for num, body in top_objs:
        top_offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)

    def row(t: int, a: int, b: int) -> bytes:
        return struct.pack(">BHH", t, a, b)

    rows = [row(0, 0, 65535)]
    for num in range(1, size):
        if num in top_offsets:
            rows.append(row(1, top_offsets[num], 0))
        elif num == xref_num:
            rows.append(row(1, xref_at, 0))
        else:  # ObjStm member: (container object, index within it)
            idx = next(
                i for i, (m, _) in enumerate(members) if m == num
            )
            rows.append(row(2, objstm_num, idx))
    # the XRef stream itself is NEVER encrypted (§7.5.8.2) — a reader
    # must parse it before it can know the document is encrypted
    enc_entry = (
        b" /Encrypt " + str(enc_num).encode() + b" 0 R /ID [<"
        + file_id.hex().encode() + b"> <" + file_id.hex().encode()
        + b">]"
    ) if enc_num is not None else b""
    out += b"%d 0 obj\n" % xref_num + _stream(
        zlib.compress(b"".join(rows)),
        b"/Type /XRef /Size %d /Root %d 0 R%s /W [1 2 2] /Index [0 %d] "
        % (size, cat, enc_entry, size),
        flate,
    ) + b"\nendobj\n"
    out += b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
    return bytes(out)


def encrypt_pdf_bytes(
    data: bytes,
    user_pw: bytes = b"",
    owner_pw: bytes = b"",
    r: int = 2,
    length: int = 40,
    file_id: bytes = b"\x01" * 16,
) -> bytes:
    """Encrypt a classic-xref PDF produced by the writers above: every
    stream payload is ciphered under its per-object key, an /Encrypt
    dict is appended, and the trailer gains /Encrypt + /ID.  r=2/3 →
    RC4 (V1/V2), r=4 → AES-128 crypt filter (V4 /AESV2), r=6 → AES-256
    (V5 /AESV3).  Object numbers are kept, holes included.
    Deterministic (AES IVs are derived from the file id + object
    number); the key schedule is functions/pdfcrypt's, so the corpus
    and the decryptor are pinned against each other, not against
    copied constants."""
    from ..functions.pdf import _objects
    from ..functions.pdfcrypt import writer_material

    enc_dict, cipher = writer_material(r, length, user_pw, owner_pw, file_id)
    objs = _objects(data)
    bodies: list[bytes | None] = [None] * max(objs) + [enc_dict]
    for num, o in objs.items():
        bodies[num - 1] = o.body
        if o.stream is not None:
            enc = cipher(num, o.stream)
            bodies[num - 1] = re.sub(
                rb"/Length\s+\d+(?!\d)", b"/Length %d" % len(enc), o.body,
                count=1,
            ) + b"\nstream\n" + enc + b"\nendstream"
    root = re.search(rb"/Root\s+(\d+)\s+\d+\s+R", data)
    hx = file_id.hex().encode()
    return classic_pdf_bytes(bodies, (
        root.group(0) if root else b"/Root 1 0 R"
    ) + b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (len(bodies), hx, hx))


def pdf_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str]:
    """(media_ref, bytes, kind).  Kind classes cover the extractor's
    whole row contract: ok (stored + Flate, classic xref), ok15
    (PDF 1.5 ObjStm + XRef-stream layout, the post-2005 default),
    cid (Type0 font, 2-byte glyph-id strings decoded via /ToUnicode),
    rc4 (owner-locked RC4 encryption with an empty user password —
    decrypts, text identical to its plaintext twin), aes (the same
    owner-locked shape under the V4/AESV2 and V5/R6/AESV3 crypt-filter
    layouts — the post-Acrobat-7 default), scan (pages are image
    XObjects — no content-stream text, rides the pipeline's
    raster->OCR fallback), lzw (content streams under real /LZWDecode
    compression — the TIFF bitstream dialect), a85 (an
    [/ASCII85Decode /FlateDecode] filter CHAIN, the PostScript-era
    ascii-armor shape), diff (subsetted simple font: high codes
    recovered only through /Encoding /Differences + AGL glyph
    names), garbage (not a PDF), encrypted (dangling /Encrypt ref),
    and locked (real user password) — the last three are error-row
    classes."""
    rng = _rng(cfg.seed, _S_PDF, j)
    n_pages = 1 + j % 3
    pages = [
        [
            _words(rng, _PROSE_WORDS, int(rng.integers(3, 9)))
            for _ in range(int(rng.integers(1, 5)))
        ]
        for _ in range(n_pages)
    ]
    compress = j % 2 == 0
    data = make_pdf_bytes(pages, compress)
    if j % 13 == 12:
        return pdf_ref(j), b"\x00plain bytes, not a pdf\xff" * 4, "garbage"
    if j % 11 == 10:
        return (
            pdf_ref(j),
            data.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"),
            "encrypted",
        )
    if j % 7 == 6:
        # real alternate filter pipelines: LZW-compressed content
        # streams, and the [/A85 /Fl] chain — both extract the same
        # text as their Flate twins
        mode = "lzw" if j % 2 == 0 else "a85flate"
        return (
            pdf_ref(j),
            make_pdf_bytes(pages, stream_filter=mode),
            "lzw" if mode == "lzw" else "a85",
        )
    if j % 9 == 3:
        # scanned document: rendered page images embedded as XObjects
        # (Flate / DCT alternating) — the corpus class that exercises
        # the pipeline's pdf->raster->OCR fallback end to end
        imgs = []
        for _p in range(n_pages):
            words = _words(rng, _FONT_WORDS, int(rng.integers(2, 5)))
            imgs.append(render_text(words, scale=3))
        return pdf_ref(j), make_scanned_pdf_bytes(
            imgs, dct=j % 2 == 1
        ), "scan"
    if j % 9 == 5:
        # Type0/CID font with /ToUnicode: 2-byte glyph-id strings that
        # only the CMap can turn back into text (the modern-generator
        # default) — rotating stored/Flate content streams
        return pdf_ref(j), make_type0_pdf_bytes(pages, compress), "cid"
    if j % 9 == 1:
        # owner-locked RC4 encryption, EMPTY user password (the common
        # print/copy-restricted shape): fully decryptable, text must
        # come out identical to the unencrypted twin — rotating R2/40
        # and R3/128 key schedules
        r, ln = (2, 40) if j % 2 == 0 else (3, 128)
        return pdf_ref(j), encrypt_pdf_bytes(
            data, owner_pw=b"owner", r=r, length=ln
        ), "rc4"
    if j % 13 == 2:
        # a REAL user password: the refusal class (the engine has no
        # secret to verify with)
        return pdf_ref(j), encrypt_pdf_bytes(
            data, user_pw=b"secret", owner_pw=b"owner", r=3, length=128
        ), "locked"
    if j % 9 == 7:
        # owner-locked AES encryption (the post-Acrobat-7 default):
        # rotating V4/AESV2-128 and V5/R6/AESV3-256 crypt-filter
        # layouts, EMPTY user password — decrypts, text identical to
        # the unencrypted twin
        return pdf_ref(j), encrypt_pdf_bytes(
            data, owner_pw=b"owner", r=4 if j % 2 == 0 else 6
        ), "aes"
    if j % 13 == 4:
        # subsetted simple font: strings are HIGH codes only the
        # /Encoding /Differences table (via AGL glyph names) can
        # recover — the TeX/Office-subsetter shape
        return (
            pdf_ref(j), make_differences_pdf_bytes(pages), "diff",
        )
    if j % 5 == 4:
        # the post-2005 default layout; every other ok15 doc is ALSO
        # owner-locked AES-256 — /Encrypt in the XRef stream's dict,
        # the modern "encrypted + xref streams" combination
        if j % 10 == 4:
            return pdf_ref(j), make_pdf15_bytes(
                pages, encrypt_r=6
            ), "aes15"
        return pdf_ref(j), make_pdf15_bytes(pages), "ok15"
    if j % 3 == 0:
        # plain docs carry metadata on a third of the class:
        # deterministic title/author/date through BOTH channels — the
        # classic /Info dictionary (one doc per rotation as BOM-led
        # UTF-16BE) on even rotations, the catalog's XMP /Metadata
        # packet (the modern-generator channel, exercising the
        # per-field fallback) on odd — so pdf_info sees tagged,
        # untagged, UTF-16 and XMP shapes side by side
        title = f"Synthetic Report {j:03d}"
        author = ("Ada Writer", "Grace Author")[j % 2]
        if (j // 3) % 2 == 1:
            xmp = dict(
                title=title, author=author,
                producer="spark-graft pdf writer",
                created=f"202{j % 10}-0{1 + j % 9}-1{j % 10}"
                        f"T1{j % 6}:00:00",
            )
            return pdf_ref(j), make_pdf_bytes(
                pages, compress, xmp=xmp
            ), "ok"
        info = dict(
            title=title, author=author,
            producer="spark-graft pdf writer",
            created=f"D:202{j % 10}0{1 + j % 9}1{j % 10}1{j % 6}0000",
        )
        return pdf_ref(j), make_pdf_bytes(
            pages, compress, info=info, info_utf16=j % 9 == 0
        ), "ok"
    return pdf_ref(j), data, "ok"


def pdf_df(spark, cfg: CorpusConfig, n: int = N_PDF_DOCS):
    return _generated_df(spark, n, 4, PDF_MEDIA_SCHEMA,
                         lambda j: [pdf_item(cfg, j)])


INTERLEAVED_CORPUS = CorpusConfig(n_docs=60, p_pdf=0.35)


# ---------------------------------------------------------------------------
# scanned/image PDFs — pages that are embedded image XObjects, the class
# whose text lives in pixels, not content streams (north rule "PDF/layout
# parse" feeding the OCR path; functions/pdf.extract_pdf_page_rasters is
# the extractor under test)

_S_SCANPDF = 10
N_SCAN_PDFS = 36  # fixed: goldens for this corpus are committed


def scan_pdf_ref(j: int) -> str:
    return f"/corpus/scan/{j:05d}.pdf"


def make_scanned_pdf_bytes(
    images: list[np.ndarray],
    bits: int = 8,
    color: str = "gray",
    flate: bool = True,
    dct: bool = False,
    variant: str = "",
) -> bytes:
    """Minimal structurally-correct scanned-PDF writer: one page per
    grayscale uint8 image, each page a single /Subtype /Image XObject
    painted by `cm … Do`.  Modes: 8-bit /DeviceGray, 1-bit /DeviceGray
    (rows padded to byte boundaries, 1 = white), 8-bit /DeviceRGB with
    R=G=B (luma folds back to the input exactly), and dct=True for
    /DCTDecode (a real baseline JPEG payload via imaging/jpeg.py —
    the filter real-world scanners emit).  `variant` exercises the
    reader's §8.9 sample-space features, each chosen so the decoded
    raster is an EXACT function of the input: 'indexed' (4-bit
    indices into a 16-entry gray-ramp /DeviceRGB palette — decodes
    to (img>>4)*17), 'smask' (a zero base image whose /SMask alpha
    is 255-img — composites onto white back to img exactly),
    'invert' (complemented samples under /Decode [1 0] — decodes to
    img), 'rl' (/RunLengthDecode samples), 'pred' (Flate + the PNG
    Up predictor via /DecodeParms).  Deterministic."""
    import zlib

    n = len(images)
    objs = _page_tree([3 + 3 * i for i in range(n)])
    smasks: list[bytes] = []
    for i, img in enumerate(images):
        h, w = img.shape[:2]
        cs, bpc, extra = b"/DeviceGray", 8, b""
        if dct:
            from ..imaging.jpeg import encode_jpeg

            payload = encode_jpeg(img, quality=95)
            filt = b" /Filter /DCTDecode"
        elif variant == "indexed":
            idx = (img >> 4).astype(np.uint8)
            stride = (w + 1) // 2
            padded = np.zeros((h, stride * 2), dtype=np.uint8)
            padded[:, :w] = idx
            samples = ((padded[:, 0::2] << 4)
                       | padded[:, 1::2]).tobytes()
            pal = bytes(
                v for k in range(16) for v in (k * 17, k * 17, k * 17)
            )
            cs = b"[/Indexed /DeviceRGB 15 <" + pal.hex().encode() + b">]"
            bpc = 4
        elif variant == "invert":
            samples = (255 - img).tobytes()
            extra = b" /Decode [1 0]"
        elif variant == "smask":
            samples = np.zeros((h, w), dtype=np.uint8).tobytes()
            extra = b" /SMask %d 0 R" % (3 + 3 * n + i)
            smasks.append(_image(zlib.compress((255 - img).tobytes()), w, h))
        elif bits == 1:
            rowbits = (img >= 128).astype(np.uint8)
            samples = np.packbits(rowbits, axis=1).tobytes()
            bpc = 1
        elif color == "rgb":
            samples = np.repeat(img.reshape(h, w, 1), 3, axis=2).tobytes()
            cs = b"/DeviceRGB"
        else:
            samples = img.tobytes()
        if dct:
            pass  # the payload is the JPEG
        elif variant == "rl":
            payload, filt = _rl_encode(samples), b" /Filter /RunLengthDecode"
        elif variant == "pred":
            rowlen = len(samples) // h
            rows = np.frombuffer(samples, dtype=np.uint8).reshape(h, rowlen)
            prior = np.zeros(rowlen, dtype=np.uint8)
            enc = bytearray()
            for r in range(h):
                enc.append(2)  # PNG Up row filter
                enc += (rows[r] - prior).tobytes()
                prior = rows[r]
            payload = zlib.compress(bytes(enc))
            filt = b" /Filter /FlateDecode"
            extra += b" /DecodeParms << /Predictor 12 /Columns %d >>" % rowlen
        elif flate:
            payload, filt = zlib.compress(samples), b" /Filter /FlateDecode"
        else:
            payload, filt = samples, b""
        objs += [
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d]"
            b" /Resources << /XObject << /Im0 %d 0 R >> >>"
            b" /Contents %d 0 R >>" % (w, h, len(objs) + 2, len(objs) + 3),
            _image(payload, w, h, cs, bpc, extra + filt),
            _stream(b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h)),
        ]
    return classic_pdf_bytes(objs + smasks)


# degradations safe for each sample class: 1-bit re-thresholds at the
# writer, so only geometry-preserving classes keep glyphs recoverable
_SCAN_DEGRADATIONS = ("clean", "low_contrast", "dark", "bright")


def scan_pdf_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str, str]:
    """(media_ref, bytes, kind, true_text).  Kind classes cover the
    raster extractor's whole contract: gray8 (Flate), raw (unfiltered),
    gray1 (1-bit packed rows), rgb (luma fold), multi (2-page),
    the §8.9 sample-space classes indexed (4-bit palette), smask
    (soft-mask composite), invert (/Decode [1 0]), rle
    (/RunLengthDecode) and pred (Flate + PNG Up predictor), plus
    error classes noimage (born-digital text PDF) and garbage."""
    rng = _rng(cfg.seed, _S_SCANPDF, j)
    n_lines = int(rng.integers(1, 3))
    lines = [
        _words(rng, _FONT_WORDS, int(rng.integers(2, 5)))
        for _ in range(n_lines)
    ]
    true_text = "\n".join(lines)
    if j % 11 == 10:
        return scan_pdf_ref(j), b"\xffnot a pdf at all\x00" * 3, "garbage", ""
    if j % 7 == 6:
        pages = [[_words(rng, _PROSE_WORDS, 4)]]
        return (
            scan_pdf_ref(j), make_pdf_bytes(pages, compress=True),
            "noimage", "",
        )
    img = render_text(true_text, scale=3)
    if j % 13 == 3:
        # /DCTDecode: the payload is a real baseline JPEG (q95) —
        # lossy, but far inside the OCR chain's recovery margin
        data = make_scanned_pdf_bytes([img], dct=True)
        return scan_pdf_ref(j), data, "dct", true_text
    if j % 13 == 5:
        # 4-bit /Indexed gray-ramp palette: 16-level quantization is
        # far inside the binarizer's margin
        data = make_scanned_pdf_bytes([img], variant="indexed")
        return scan_pdf_ref(j), data, "indexed", true_text
    if j % 13 == 7:
        # /SMask soft mask over a zero base: composites onto white
        # back to the source raster exactly
        data = make_scanned_pdf_bytes([img], variant="smask")
        return scan_pdf_ref(j), data, "smask", true_text
    if j % 13 == 9:
        # /Decode [1 0] over complemented samples: §8.9.5.2 remap
        data = make_scanned_pdf_bytes([img], variant="invert")
        return scan_pdf_ref(j), data, "invert", true_text
    if j % 13 == 11:
        data = make_scanned_pdf_bytes([img], variant="rl")
        return scan_pdf_ref(j), data, "rle", true_text
    if j % 13 == 0:
        # Flate + PNG Up predictor via /DecodeParms
        data = make_scanned_pdf_bytes([img], variant="pred")
        return scan_pdf_ref(j), data, "pred", true_text
    if j % 5 == 4:
        data = make_scanned_pdf_bytes([img], color="rgb")
        return scan_pdf_ref(j), data, "rgb", true_text
    if j % 3 == 2:
        data = make_scanned_pdf_bytes([img], bits=1)
        return scan_pdf_ref(j), data, "gray1", true_text
    deg = _SCAN_DEGRADATIONS[int(rng.integers(0, len(_SCAN_DEGRADATIONS)))]
    img = _degrade(img, deg, rng, cfg.oversize_bytes)
    if j % 2 == 1:
        data = make_scanned_pdf_bytes([img], flate=False)
        return scan_pdf_ref(j), data, "raw", true_text
    data = make_scanned_pdf_bytes([img])
    return scan_pdf_ref(j), data, "gray8", true_text


SCAN_PDF_SCHEMA = (
    "media_ref string, bytes binary, kind string, true_text string"
)


def scan_pdf_df(spark, cfg: CorpusConfig, n: int = N_SCAN_PDFS):
    return _generated_df(spark, n, 4, SCAN_PDF_SCHEMA,
                         lambda j: [scan_pdf_item(cfg, j)])


# ---------------------------------------------------------------------------
# layout-PDF corpus: pages whose content streams emit text runs OUT of
# reading order with absolute Tm positions — the class where stream
# order lies and only the text matrix (functions/pdf.extract_pdf_layout)
# recovers reading order

_S_LAYOUTPDF = 11
N_LAYOUT_PDFS = 18


def layout_pdf_ref(j: int) -> str:
    return f"/corpus/layout/{j:05d}.pdf"


def make_positioned_pdf_bytes(
    pages: list[list[tuple[float, float, str]]],
) -> bytes:
    """PDF writer whose pages position every text run with an absolute
    Tm — runs are emitted in the LIST ORDER given, which need not be
    reading order (that is the point).  Same object skeleton as
    make_pdf_bytes."""
    return classic_pdf_bytes(_text_pdf([
        _stream(b" ".join(
            b"BT /F1 12 Tf 1 0 0 1 %s %s Tm %s Tj ET"
            % (f"{x:g}".encode(), f"{y:g}".encode(), _pdf_string(text))
            for x, y, text in runs
        ))
        for runs in pages
    ], [_HELVETICA]))


def layout_pdf_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str]:
    """(media_ref, bytes, kind).  ok_shuffled: absolute-Tm runs emitted
    in a seeded shuffle of reading order, some lines split into two
    x-ordered runs (column-ish emission, the class where stream order
    lies); ok_relative: classic Td/TL/T*/' relative positioning (the
    make_pdf_bytes idiom); garbage / encrypted: error rows."""
    rng = _rng(cfg.seed, _S_LAYOUTPDF, j)
    if j % 9 == 8:
        return layout_pdf_ref(j), b"\x00not a pdf\xff" * 5, "garbage"
    n_pages = 1 + j % 2
    pages = []
    for _p in range(n_pages):
        n_lines = int(rng.integers(3, 6))
        runs = []
        for li in range(n_lines):
            y = 720.0 - 14.0 * li
            words = _words(rng, _PROSE_WORDS, int(rng.integers(2, 6)))
            if rng.integers(0, 3) == 0 and " " in words:
                # split the line into two runs at different x — within-
                # line x-sort must reassemble them left-to-right
                head, tail = words.split(" ", 1)
                runs.append((72.0, y, head))
                runs.append((72.0 + 10.0 * len(head), y, tail))
            else:
                runs.append((72.0, y, words))
        order = rng.permutation(len(runs))
        pages.append([runs[int(k)] for k in order])
    if j % 7 == 6:
        # relative positioning: same content through Td/TL/T*
        rel_pages = [
            [line for line in _layout_reading_lines(pg)]
            for pg in pages
        ]
        data = make_pdf_bytes(rel_pages, compress=j % 2 == 0)
        return layout_pdf_ref(j), data, "ok_relative"
    data = make_positioned_pdf_bytes(pages)
    if j % 11 == 10:
        data = data.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
        return layout_pdf_ref(j), data, "encrypted"
    return layout_pdf_ref(j), data, "ok_shuffled"


def _layout_reading_lines(runs: list[tuple[float, float, str]]) -> list[str]:
    """Reading-order line texts of a positioned-run page (the writer's
    own notion, used to build the relative-positioning variant)."""
    by_y: dict[float, list[tuple[float, str]]] = {}
    for x, y, t in runs:
        by_y.setdefault(y, []).append((x, t))
    return [
        " ".join(t for _x, t in sorted(by_y[y]))
        for y in sorted(by_y, reverse=True)
    ]


LAYOUT_PDF_SCHEMA = "media_ref string, bytes binary, kind string"


def layout_pdf_df(spark, cfg: CorpusConfig, n: int = N_LAYOUT_PDFS):
    return _generated_df(spark, n, 4, LAYOUT_PDF_SCHEMA,
                         lambda j: [layout_pdf_item(cfg, j)[:3]])


# ---------------------------------------------------------------------------
# sitemap corpus (functions/sitemap.py) — the crawl frontier's other
# URL source: leaf urlsets (plain / gzipped / bare-tag), sitemapindex
# files, sparse optional fields, and the refusal classes

_S_SITEMAP = 16
N_SITEMAPS = 20

_CHANGEFREQS = ("always", "hourly", "daily", "weekly", "monthly")


def sitemap_ref(j: int) -> str:
    return f"/crawl/sitemaps/{j:05d}.xml"


def sitemap_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str]:
    """(media_ref, bytes, kind).  Kinds: urlset (plain, namespaced),
    urlset_gz (gzipped, bare tags — both axes the wild emits), sparse
    (optional fields absent), index (sitemapindex of child sitemaps),
    plus error classes malformed (truncated XML), badpriority
    (non-numeric <priority>), and garbage (not XML).  Hosts and /docs/
    paths align with the url-family's robots-rule universe so the
    frontier composition actually gates."""
    from ..functions.sitemap import encode_sitemap

    rng = _rng(cfg.seed, _S_SITEMAP, j)
    host = f"site{j % 5}.example.com"
    n = int(rng.integers(4, 10))
    entries = []
    for k in range(n):
        m = int(rng.integers(0, 50))
        e = dict(loc=f"https://{host}/docs/{m}")
        if rng.integers(0, 3) > 0:
            e["lastmod"] = (f"2026-0{1 + int(rng.integers(0, 8))}-"
                            f"{1 + int(rng.integers(0, 27)):02d}")
        if rng.integers(0, 3) > 0:
            e["changefreq"] = _CHANGEFREQS[
                int(rng.integers(0, len(_CHANGEFREQS)))]
        if rng.integers(0, 2) > 0:
            e["priority"] = round(float(rng.integers(1, 11)) / 10, 1)
        entries.append(e)
    if j % 10 == 9:
        return sitemap_ref(j), b"\x00not xml\xff" * 8, "garbage"
    if j % 10 == 7:
        data = encode_sitemap(entries)
        return sitemap_ref(j), data[: int(len(data) * 0.6)], "malformed"
    if j % 10 == 5:
        entries[0]["priority"] = "high"
        return sitemap_ref(j), encode_sitemap(entries), "badpriority"
    if j % 7 == 3:
        # children reference REAL refs of this corpus's files (j-3,
        # j-2, j-1 — never another index by the class moduli), so the
        # recursion is resolvable as a JOIN against the store
        # (sitemap_expand); index 10's children deliberately include a
        # malformed and a garbage file, whose parse errors must
        # surface WITH index provenance, not vanish
        kids = [
            dict(loc=f"https://{host}{sitemap_ref(j - 3 + k)}",
                 lastmod=f"2026-01-{k + 1:02d}")
            for k in range(3)
        ]
        return sitemap_ref(j), encode_sitemap(
            kids, kind="sitemapindex", gzipped=j % 2 == 1
        ), "index"
    if j % 3 == 2:
        for e in entries:
            e.pop("lastmod", None)
            e.pop("changefreq", None)
            e.pop("priority", None)
        return sitemap_ref(j), encode_sitemap(entries), "sparse"
    if j % 2 == 1:
        return sitemap_ref(j), encode_sitemap(
            entries, gzipped=True, namespaced=False
        ), "urlset_gz"
    return sitemap_ref(j), encode_sitemap(entries), "urlset"


SITEMAP_MEDIA_SCHEMA = "media_ref string, bytes binary, kind string"


def sitemap_df(spark, cfg: CorpusConfig, n: int = N_SITEMAPS):
    return _generated_df(spark, n, 4, SITEMAP_MEDIA_SCHEMA,
                         lambda j: [sitemap_item(cfg, j)])


# ---------------------------------------------------------------------------
# robots.txt corpus (functions/robots.py) — one file per HOST, host
# names aligned with the sitemap corpus so the frontier composition
# joins them for real.  Classes cover RFC 9309's selection and
# matching traps: specific-UA-beats-star, consecutive-UA grouping,
# same-agent group combination, '*'/'$' wildcard patterns, messy
# real-world formatting, Sitemap: discovery lines, and the refusals.

N_ROBOTS = 10


def robots_ref(j: int) -> str:
    # the ref IS the host — at crawl scale the robots store is keyed
    # by host, and the frontier composition joins on it.  j in [0, 5)
    # are the sitemap-corpus hosts (live rules); the error/edge
    # classes live on their own hosts so the store realistically
    # carries junk entries that no frontier URL ever joins
    if j < 5:
        return f"site{j}.example.com"
    return f"edge{j}.example.net"


def robots_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str]:
    """(media_ref/host, bytes, kind).  j in [0, N_ROBOTS); j < 5 carry
    the sitemap hosts' ACTUAL rules (the frontier composition joins
    them); j >= 5 are the error/edge classes on disjoint hosts."""
    if j == 5:
        return robots_ref(j), b"x" * (500 * 1024 + 1), "oversize"
    if j == 6:
        return robots_ref(j), b"PK\x03\x04\x00binary\x00zip", "nul"
    if j == 7:
        # no group matches our crawler: zero rule rows, default-allow
        return robots_ref(j), (
            b"User-agent: googlebot\nDisallow: /\n"
        ), "nomatch"
    if j == 8:
        # messy but legal: BOM, CRLF, comments, mixed-case keys,
        # unknown directives, empty Disallow (= allow-all no-op)
        return robots_ref(j), (
            b"\xef\xbb\xbf# robots for site3\r\n"
            b"USER-AGENT: *\r\n"
            b"Crawl-delay: 10\r\n"
            b"Disallow:\r\n"
            b"DISALLOW: /tmp/ # trailing comment\r\n"
            b"Sitemap: https://site3.example.com/sitemap.xml\r\n"
        ), "messy"
    if j == 9:
        # two groups for the SAME agent combine (RFC 9309 §2.2.1)
        return robots_ref(j), (
            b"User-agent: synthcrawler\nDisallow: /a/\n\n"
            b"User-agent: synthcrawler\nAllow: /a/pub\n"
        ), "combined"
    # j in [0, 5): the per-host live rule files the frontier consumes
    if j == 0:
        body = (b"User-agent: *\n"
                b"Disallow: /docs/1\n"
                b"Allow: /docs/12\n"
                b"Sitemap: https://site0.example.com/sitemap.xml\n")
        kind = "star"
    elif j == 1:
        # specific UA beats star: the star group would allow all, the
        # synthcrawler group disallows /docs/2*
        body = (b"User-agent: *\nDisallow:\n\n"
                b"User-agent: synthcrawler\nDisallow: /docs/2\n")
        kind = "specific"
    elif j == 2:
        # wildcard + anchor patterns
        body = (b"User-agent: *\n"
                b"Disallow: /docs/*3$\n"
                b"Allow: /docs/13$\n")
        kind = "wildcards"
    elif j == 3:
        # consecutive UA lines share one group
        body = (b"User-agent: otherbot\n"
                b"User-agent: synthcrawler\n"
                b"Disallow: /docs/4\n")
        kind = "multi_ua"
    else:
        # site-wide disallow with a carve-out (longest match wins)
        body = (b"User-agent: *\n"
                b"Disallow: /\n"
                b"Allow: /docs/3\n")
        kind = "carveout"
    return robots_ref(j), body, kind


ROBOTS_MEDIA_SCHEMA = "media_ref string, bytes binary, kind string"


def robots_df(spark, cfg: CorpusConfig, n: int = N_ROBOTS):
    return _generated_df(spark, n, 2, ROBOTS_MEDIA_SCHEMA,
                         lambda j: [robots_item(cfg, j)])


# ---------------------------------------------------------------------------
# feed corpus (functions/feeds.py) — RSS 2.0 + Atom discovery feeds,
# hosts and /docs/ paths aligned with the sitemap/robots universe so
# the discovery matrix can compare sources per host

_S_FEED = 18
N_FEEDS = 15


def feed_ref(j: int) -> str:
    return f"/crawl/feeds/{j:05d}.xml"


def feed_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str]:
    """(media_ref, bytes, kind).  Kinds: rss, rss_gz, atom (rel=self
    links present, alternate wins), sparse (link-less / field-less
    entries — data, not errors), plus error classes malformed,
    wrongroot (an html page where a feed was expected), garbage."""
    from ..functions.feeds import encode_atom, encode_rss

    rng = _rng(cfg.seed, _S_FEED, j)
    host = f"site{j % 5}.example.com"
    n = int(rng.integers(3, 8))
    entries = []
    for _k in range(n):
        m = int(rng.integers(0, 50))
        entries.append(dict(
            title=_words(rng, _PROSE_WORDS, int(rng.integers(2, 5))),
            link=f"https://{host}/docs/{m}",
            published=(f"2026-0{1 + int(rng.integers(0, 8))}-"
                       f"{1 + int(rng.integers(0, 27)):02d}"),
            guid=f"urn:doc:{host}:{m}",
        ))
    if j % 11 == 10:
        return feed_ref(j), b"\x07not a feed\xfe" * 6, "garbage"
    if j % 11 == 8:
        data = encode_rss(entries)
        return feed_ref(j), data[: int(len(data) * 0.55)], "malformed"
    if j % 11 == 6:
        return feed_ref(j), (
            b"<html><body><p>not a feed</p></body></html>"
        ), "wrongroot"
    if j % 5 == 4:
        for e in entries:
            e.pop("link", None)
            e.pop("guid", None)
            e.pop("published", None)
        return feed_ref(j), encode_rss(entries), "sparse"
    if j % 3 == 2:
        return feed_ref(j), encode_atom(entries), "atom"
    if j % 2 == 1:
        return feed_ref(j), encode_rss(entries, gzipped=True), "rss_gz"
    return feed_ref(j), encode_rss(entries), "rss"


FEED_MEDIA_SCHEMA = "media_ref string, bytes binary, kind string"


def feed_df(spark, cfg: CorpusConfig, n: int = N_FEEDS):
    return _generated_df(spark, n, 2, FEED_MEDIA_SCHEMA,
                         lambda j: [feed_item(cfg, j)])


# ---------------------------------------------------------------------------
# composite-PDF corpus: pages that COMPOSITE — vector text painted over
# or under embedded images, several images per page, rect-filled
# backgrounds, invisible OCR-layer text — the class only a renderer
# (functions/pdfrender.render_pdf_pages) can rasterize; the single-
# image scanned path (extract_pdf_page_rasters) refuses all of them

_S_COMPPDF = 15
N_COMP_PDFS = 24  # fixed: goldens for this corpus are committed


def comp_pdf_ref(j: int) -> str:
    return f"/corpus/composite/{j:05d}.pdf"


def make_composite_pdf_bytes(
    pages: list[list[tuple]],
) -> bytes:
    """Compositing-PDF writer: each page is a list of draw elements
    rendered in order —
      ("image", gray_uint8, x, y)          native-size Do at (x, y)
      ("text", s, x, y, size)              visible Tj
      ("hidden", s, x, y, size)            Tr 3 invisible OCR layer
      ("rect", x, y, w, h, gray01)         re + f fill
      ("raw", content_bytes)               verbatim content (refusal
                                           classes build from this)
    Same one-shot object skeleton as make_scanned_pdf_bytes."""
    import zlib

    objs: list[bytes] = [b"", b""]  # catalog and page tree, set last
    kids: list[int] = []

    def shading(kind: int, coords, extend: bool, fn: bytes) -> bytes:
        return (
            b"<< /ShadingType %d /ColorSpace /DeviceGray /Coords [%s]"
            b" /Extend [%s] /Function %s >>"
            % (kind, b" ".join(_fnum(v) for v in coords),
               b"true true" if extend else b"false false", fn)
        )

    def ramp(g0: float, g1: float) -> bytes:
        return (b"<< /FunctionType 2 /Domain [0 1] /C0 [%s] /C1 [%s] /N 1 >>"
                % (_fnum(g0), _fnum(g1)))

    for elements in pages:
        content = bytearray()
        # resource category -> "/Name n 0 R" entries, in draw order
        res: dict[bytes, list[bytes]] = {
            b"XObject": [], b"Shading": [], b"ExtGState": []}

        def use(category: bytes, prefix: bytes, body: bytes) -> bytes:
            """Append `body` as an object and name it in `category`."""
            objs.append(body)
            entries = res[category]
            name = b"/%s%d" % (prefix, len(entries))
            entries.append(b"%s %d 0 R" % (name, len(objs)))
            return name

        for el in elements:
            tag = el[0]
            if tag == "image":
                _t, img, x, y = el
                h, w = img.shape
                name = use(b"XObject", b"Im",
                           _image(zlib.compress(img.tobytes()), w, h))
                content += (b"q %d 0 0 %d %s %s cm %s Do Q\n"
                            % (w, h, _fnum(x), _fnum(y), name))
            elif tag in ("text", "hidden"):
                _t, s, x, y, size = el
                content += (
                    b"BT /F1 %s Tf %d Tr %s %s Td %s Tj ET\n"
                    % (_fnum(size), 3 if tag == "hidden" else 0,
                       _fnum(x), _fnum(y), _pdf_string(s))
                )
            elif tag == "rect":
                _t, x, y, w, h, gray = el
                content += (
                    b"%s g %s %s %s %s re f 0 g\n"
                    % (_fnum(gray), _fnum(x), _fnum(y),
                       _fnum(w), _fnum(h))
                )
            elif tag == "form":
                # ("form", inner_content, matrix6_or_None,
                #  bbox4_or_None): a /Subtype /Form XObject invoked
                # with a bare Do — the logo/header reuse shape
                _t, inner, matrix, bbox = el
                head = b"/Type /XObject /Subtype /Form"
                for key, vals in ((b"Matrix", matrix), (b"BBox", bbox)):
                    if vals is not None:
                        head += b" /%s [%s]" % (
                            key, b" ".join(_fnum(v) for v in vals))
                content += b"%s Do\n" % use(
                    b"XObject", b"Im", _stream(inner, head + b" "))
            elif tag == "stencil":
                # ("stencil", bool_hw_array, x, y, invert): an
                # /ImageMask true XObject painted at native size —
                # True cells are the CLEAR (painting) bits unless
                # invert, matching the §8.9.6.2 default /Decode
                _t, mask, x, y, invert = el
                h, w = mask.shape
                bits = np.packbits(
                    (~mask if not invert else mask).astype(np.uint8),
                    axis=1,
                )
                name = use(b"XObject", b"Im", _stream(
                    zlib.compress(bits.tobytes()),
                    b"/Subtype /Image /ImageMask true /Width %d /Height %d"
                    b" /BitsPerComponent 1%s /Filter /FlateDecode "
                    % (w, h, b" /Decode [1 0]" if invert else b""),
                ))
                content += (b"q %d 0 0 %d %s %s cm %s Do Q\n"
                            % (w, h, _fnum(x), _fnum(y), name))
            elif tag == "extg":
                # ("extg", dict_body_bytes): an /ExtGState resource
                # applied with gs
                content += b"%s gs\n" % use(b"ExtGState", b"G", el[1])
            elif tag == "axial":
                # ("axial", x0, y0, x1, y1, g0, g1, extend): a
                # /ShadingType 2 gradient painted with sh over the
                # current clip
                _t, x0, y0, x1, y1, g0, g1, ext = el
                content += b"%s sh\n" % use(b"Shading", b"Sh", shading(
                    2, (x0, y0, x1, y1), ext, ramp(g0, g1)))
            elif tag == "radial":
                # ("radial", x0, y0, r0, x1, y1, r1, g0, g1, extend):
                # a /ShadingType 3 circle blend painted with sh
                _t, x0, y0, r0, x1, y1, r1, g0, g1, ext = el
                content += b"%s sh\n" % use(b"Shading", b"Sh", shading(
                    3, (x0, y0, r0, x1, y1, r1), ext, ramp(g0, g1)))
            elif tag == "shstitch":
                # ("shstitch", x0, y0, x1, y1): an axial gradient
                # under a /FunctionType 3 STITCHING function — a V
                # ramp (1 -> 0 on [0, .5], 0 -> 1 on [.5, 1]) from
                # two exponential subfunctions
                content += b"%s sh\n" % use(b"Shading", b"Sh", shading(
                    2, el[1:5], True,
                    b"<< /FunctionType 3 /Domain [0 1] /Functions [ "
                    + ramp(1, 0) + b" " + ramp(0, 1)
                    + b" ] /Bounds [0.5] /Encode [0 1 0 1] >>"))
            elif tag == "shsampled":
                # ("shsampled", x0, y0, x1, y1, samples): an axial
                # gradient under an indirect /FunctionType 0 SAMPLED
                # stream (8-bit, /Domain [0 1] /Range [0 1], linear
                # interpolation between table entries)
                tab = bytes(el[5])
                objs.append(_stream(
                    tab, b"/FunctionType 0 /Domain [0 1] /Range [0 1]"
                    b" /Size [%d] /BitsPerSample 8 " % len(tab)))
                content += b"%s sh\n" % use(b"Shading", b"Sh", shading(
                    2, el[1:5], True, b"%d 0 R" % len(objs)))
            elif tag == "raw":
                content += el[1] + b"\n"
            else:  # pragma: no cover - writer misuse
                raise ValueError(f"unknown element {tag}")
        objs.append(_stream(bytes(content)))
        resources = b" /XObject << " + b" ".join(res[b"XObject"]) + b" >>"
        for category in (b"Shading", b"ExtGState"):
            if res[category]:
                resources += b" /%s << %s >>" % (
                    category, b" ".join(res[category]))
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources <<%s >> /Contents %d 0 R >>"
            % (resources, len(objs))
        )
        kids.append(len(objs))
    objs[:2] = _page_tree(kids)
    return classic_pdf_bytes(objs)


def _fnum(v: float) -> bytes:
    """Shortest exact decimal for writer coordinates (ints stay ints)."""
    if float(v) == int(v):
        return str(int(v)).encode()
    return repr(float(v)).encode()


def comp_pdf_item(cfg: CorpusConfig, j: int) -> tuple[str, bytes, str, str]:
    """(media_ref, bytes, kind, true_text) — true_text is what a
    rasterize-then-OCR pipeline should READ off the page (so hidden
    OCR-layer text is excluded and refusal classes carry "").

    Classes: text_over_image (vector caption under an embedded scan),
    two_images (two scan strips stacked on one page), ocr_layer (scan
    plus invisible Tr 3 text — the searchable-scanned-PDF shape),
    rect_bg (text on a filled gray panel), vector (stroked rule +
    filled triangle + Bézier blob decorating a text line), clipped
    (oversized light fill W-clipped to the band behind the text),
    form (a reusable form-XObject banner placed twice through
    different /Matrix values under the text), rotated (refusal:
    rotated Tm), garbage (refusal: not a PDF)."""
    rng = _rng(cfg.seed, _S_COMPPDF, j)
    line_a = _words(rng, _FONT_WORDS, int(rng.integers(2, 4)))
    line_b = _words(rng, _FONT_WORDS, int(rng.integers(2, 4)))
    if j % 11 == 10:
        return comp_pdf_ref(j), b"\x89not-a-pdf\x00" * 4, "garbage", ""
    if j % 9 == 8:
        raw = (b"BT /F1 20 Tf 0.7 0.7 -0.7 0.7 100 400 Tm "
               + _pdf_string(line_a) + b" Tj ET")
        data = make_composite_pdf_bytes([[("raw", raw)]])
        return comp_pdf_ref(j), data, "rotated", ""
    img = render_text(line_a, scale=2)
    if j % 13 == 7:
        # gradient page furniture: a LIGHT axial header wash and a
        # light radial vignette (0.95-1.0 — shading, not ink, same
        # binarize-away contrast as rect_bg) behind the text — drives
        # the §8.7.4.5 shading engine, incl. the radial circle-blend
        # solve, end to end while OCR truth stays the text line
        data = make_composite_pdf_bytes([[
            ("raw", b"q 60 560 480 60 re W n"),
            ("axial", 60.0, 0.0, 540.0, 0.0, 1.0, 0.95, True),
            ("raw", b"Q q 60 300 200 120 re W n"),
            ("radial", 160.0, 360.0, 0.0, 160.0, 360.0, 90.0,
             0.95, 1.0, True),
            ("raw", b"Q"),
            ("text", line_a, 72, 500, 20),
        ]])
        return comp_pdf_ref(j), data, "gradient", line_a
    if j % 7 == 6:
        # vector decoration: a stroked heading rule, a filled triangle
        # bullet, and a Bézier blob — LIGHT gray (0.95, the same
        # binarize-away contrast as the rect_bg panel: shading, not
        # ink) so OCR truth stays exactly the text line while the
        # renderer's path/stroke/winding engine runs end to end
        raw = (b"1.5 w 0.95 G 72 390 m 430 390 l S "
               b"0.95 g 58 398 m 66 402 l 58 406 l h f "
               b"460 560 m 490 620 520 620 550 560 c h f 0 g")
        data = make_composite_pdf_bytes([[
            ("raw", raw),
            ("text", line_a, 72, 400, 20),
        ]])
        return comp_pdf_ref(j), data, "vector", line_a
    if j % 11 == 5:
        # form XObject letterhead: a reusable light-gray banner
        # painted TWICE through different /Matrix placements (the
        # logo-reuse shape) under the text — drives §8.10 end to end
        inner = b"0.95 g 0 0 120 8 re f"
        data = make_composite_pdf_bytes([[
            ("form", inner, (1.0, 0, 0, 1.0, 60, 540),
             (0.0, 0.0, 120.0, 8.0)),
            ("form", inner, (2.0, 0, 0, 1.0, 300, 540),
             (0.0, 0.0, 120.0, 8.0)),
            ("text", line_a, 72, 500, 20),
        ]])
        return comp_pdf_ref(j), data, "form", line_a
    if j % 7 == 3:
        # clipped panel: an oversized light fill clipped (W n) to the
        # band behind the text — the rect_bg shape via the clip engine
        raw = (b"q 60 488 480 44 re W n"
               b" 0.95 g 0 300 612 400 re f Q 0 g")
        data = make_composite_pdf_bytes([[
            ("raw", raw),
            ("text", line_a, 72, 500, 20),
        ]])
        return comp_pdf_ref(j), data, "clipped", line_a
    if j % 5 == 4:
        # searchable scanned PDF: the page paints ONLY the scan; a
        # generator-supplied text layer rides invisibly underneath
        data = make_composite_pdf_bytes([[
            ("image", img, 72, 600),
            ("hidden", line_a, 72, 604, 20),
        ]])
        return comp_pdf_ref(j), data, "ocr_layer", line_a
    if j % 3 == 2:
        img_b = render_text(line_b, scale=2)
        data = make_composite_pdf_bytes([[
            ("image", img, 72, 640),
            ("image", img_b, 72, 520),
        ]])
        return comp_pdf_ref(j), data, "two_images", f"{line_a}\n{line_b}"
    if j % 2 == 1:
        # panel gray is deliberately LIGHT (0.95): whole-page Otsu
        # puts its split between ink and everything else only while
        # the panel's between-class variance stays far below the
        # ink's — at 0.85 the panel mass ties with the ink split and
        # the whole box binarizes black (measured), the same failure a
        # real scanner page with a mid-gray sidebar hits
        data = make_composite_pdf_bytes([[
            ("rect", 60, 488, 480, 44, 0.95),
            ("text", line_a, 72, 500, 20),
        ]])
        return comp_pdf_ref(j), data, "rect_bg", line_a
    data = make_composite_pdf_bytes([[
        ("image", img, 72, 600),
        ("text", line_b, 72, 520, 20),
    ]])
    return comp_pdf_ref(j), data, "text_over_image", f"{line_a}\n{line_b}"


COMP_PDF_SCHEMA = (
    "media_ref string, bytes binary, kind string, true_text string"
)


def comp_pdf_df(spark, cfg: CorpusConfig, n: int = N_COMP_PDFS):
    return _generated_df(spark, n, 4, COMP_PDF_SCHEMA,
                         lambda j: [comp_pdf_item(cfg, j)])
