"""Deterministic synthetic interleaved-document corpus (FIXTURES.md §1).

Two corpus sources:

1. ``gen_documents(n_docs, seed)`` — pure-Python generator (no Spark, no
   wall-clock, no global RNG): every document derives from
   ``md5(seed:doc_id)`` so any subset regenerates identically at any scale.
   Used by unit/golden tests and by ``bench.py`` (scaled up).

2. ``interleave_flat_documents(df)`` — Spark-side adapter that derives an
   interleaved spans corpus from the driver's flat testdata
   ``documents(doc_id, text, ...)`` table, deterministically from doc_id +
   text. Used by ``__spark_entry__.entry`` so the flagship query is grounded
   in driver-provided data.

Span mix per document mirrors FIXTURES.md §1: text lines (some with
superscripts ¹²³ and footnote markers), boilerplate nav/footer lines,
serialized table grids (incl. sparse cells), kv payloads (incl. duplicate
keys / empty values), media refs, and serialized PDF word-box pages for the
layout kernel. Doc sizes are heavy-tailed: 1 doc in HEAVY_EVERY gets
HEAVY_SPANS-ish spans (the multi-hundred-page-PDF skew case).
"""

from __future__ import annotations

import hashlib
import random

from pdftableextractor_spark.types import RS, US

WORDS = (
    "revenue net income growth margin cash flow operating total annual "
    "quarterly segment guidance outlook subscription platform hardware "
    "international domestic units members expenses capital shares dividend "
    "earnings adjusted consolidated fiscal record strong increase decrease"
).split()

BOILER_LINES = (
    "Home | About | Contact | Careers",
    "© 2024 Example Corp. All rights reserved.",
    "Privacy Policy",
    "Terms of Service",
    "Skip to content",
    "Investors | Press | Blog | Support | Legal",
)

FOOTNOTE_TEMPLATES = (
    "(1) Note: figures based on unaudited results for the period.",
    "[2] Source: company filings, see page 12 for details.",
    "3. See the disclaimer in section 4 regarding forward-looking statements.",
    "* Excludes one-time charges pursuant to the restructuring plan.",
    "Note 2: includes deferred revenue in accordance with GAAP.",
    "Source: management estimates, refers to fiscal year 2024.",
    "See appendix 3 for the reconciliation of non-GAAP measures.",
)

KV_KEYS = (
    "Company",
    "Fiscal Year",
    "Total Revenue",
    "Net Income",
    "Employees",
    "Headquarters",
    "CEO",
    "Ticker",
)

SUPERSCRIPTS = "¹²³⁴⁵⁶⁷⁸⁹"

HEAVY_EVERY = 97  # doc index i with i % HEAVY_EVERY == 7 is heavy-tailed
HEAVY_SPANS = 2500
LIGHT_SPANS_MIN, LIGHT_SPANS_MAX = 20, 80


def _rng(seed: int, doc_id: str) -> random.Random:
    h = hashlib.md5(f"{seed}:{doc_id}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _sentence(rng: random.Random) -> str:
    n = rng.randint(6, 14)
    ws = [rng.choice(WORDS) for _ in range(n)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + rng.choice([".", ".", ".", "!", "?", ":"])


def _text_line(rng: random.Random) -> str:
    line = _sentence(rng)
    r = rng.random()
    if r < 0.15:  # superscript footnote ref glued to a word
        parts = line.split(" ")
        k = rng.randrange(len(parts))
        parts[k] = parts[k] + rng.choice(SUPERSCRIPTS)
        line = " ".join(parts)
    elif r < 0.30:  # inline (n)/[n]/* refs
        line = line + " " + rng.choice(["(1)", "[2]", "(3)", "*", "**"])
    elif r < 0.36:  # numeric facts for the lexical matcher
        line = line + f" of ${rng.randint(1, 999)}.{rng.randint(0, 9)} million"
    elif r < 0.40:  # standalone page number (must normalize to '')
        line = str(rng.randint(1, 99))
    return line


def _table_payload(rng: random.Random) -> str:
    n_rows = rng.randint(2, 5)
    n_cols = rng.randint(2, 4)
    cells = []
    header = ["Metric"] + [f"Q{c} 2024" for c in range(1, n_cols)]
    for c, h in enumerate(header):
        cells.append(f"r0c{c}:{h}")
    for r in range(1, n_rows):
        metric = rng.choice(WORDS).capitalize()
        cells.append(f"r{r}c0:{metric}")
        for c in range(1, n_cols):
            if rng.random() < 0.15:
                continue  # sparse cell → '' fill expected
            cells.append(f"r{r}c{c}:${rng.randint(1, 9999)}")
    return US.join(cells)


def _kv_payload(rng: random.Random) -> str:
    key = rng.choice(KV_KEYS)
    if rng.random() < 0.1:
        return key + US  # empty value
    if rng.random() < 0.05:
        return US + "orphan value"  # empty key → dropped
    return key + US + f"value-{rng.randint(1, 500)}"


def _pdf_payload(rng: random.Random) -> str:
    """One synthetic PDF page as a word-box stream.

    Body lines span the page; a table block has 2-4 gap-separated columns at
    fixed x anchors so whitespace-gap clustering recovers the grid
    (north_star: ruled-line/whitespace-gap detection + x/y interval merge).
    """
    records = []
    y = 0.05

    def emit_line(text: str, y: float) -> None:
        x = 0.08
        for w in text.split(" "):
            wdt = 0.012 * len(w)
            records.append(
                f"{w}{US}{y + rng.uniform(-0.002, 0.002):.4f}{US}{x:.4f}"
                f"{US}{wdt:.4f}{US}0.012"
            )
            x += wdt + 0.004  # tight gap < GAP_MIN → same segment

    n_body_top = rng.randint(2, 4)
    for _ in range(n_body_top):
        emit_line(_sentence(rng), y)
        y += 0.03
    # table block: half whitespace-gap only, half enclosed by ruled lines
    # (single-row ruled tables only the rule signal can detect)
    ruled = rng.random() < 0.5
    n_trows = rng.randint(1, 4) if ruled else rng.randint(2, 4)
    n_tcols = rng.randint(2, 3)
    anchors = [0.08, 0.45, 0.75][:n_tcols]
    if ruled:
        records.append(
            f"<hr>{US}{y - 0.012:.4f}{US}0.0500{US}0.8500{US}0.0020"
        )
    for r in range(n_trows):
        yy = y + rng.uniform(-0.002, 0.002)
        for c, ax in enumerate(anchors):
            if r > 0 and rng.random() < 0.12:
                continue  # sparse cell
            cell = (
                f"Item{r}" if c == 0 else f"${rng.randint(1, 999)}"
            ) if r > 0 else (f"Col{c}" if c > 0 else "Name")
            x = ax
            for w in cell.split(" "):
                wdt = 0.012 * len(w)
                records.append(
                    f"{w}{US}{yy:.4f}{US}{x:.4f}{US}{wdt:.4f}{US}0.012"
                )
                x += wdt + 0.004
        y += 0.03
    if ruled:
        records.append(
            f"<hr>{US}{y - 0.012:.4f}{US}0.0500{US}0.8500{US}0.0020"
        )
        y += 0.01
    # trailing body
    for _ in range(rng.randint(1, 3)):
        emit_line(_sentence(rng), y)
        y += 0.03
    return RS.join(records)


def gen_document(seed: int, i: int) -> dict:
    doc_id = f"doc-{i:06d}"
    rng = _rng(seed, doc_id)
    n_spans = (
        HEAVY_SPANS + rng.randint(-300, 300)
        if i % HEAVY_EVERY == 7
        else rng.randint(LIGHT_SPANS_MIN, LIGHT_SPANS_MAX)
    )
    spans = []
    media_n = 0
    for off in range(n_spans):
        r = rng.random()
        if r < 0.55:
            spans.append(("text", _text_line(rng), "", off))
        elif r < 0.67:
            spans.append(("boiler", rng.choice(BOILER_LINES), "", off))
        elif r < 0.74:
            spans.append(("text", rng.choice(FOOTNOTE_TEMPLATES), "", off))
        elif r < 0.82:
            spans.append(("table", _table_payload(rng), "", off))
        elif r < 0.90:
            spans.append(("kv", _kv_payload(rng), "", off))
        elif r < 0.95:
            media_n += 1
            spans.append(("media", "", f"asset-{i}-{media_n}", off))
        else:
            spans.append(("pdf", _pdf_payload(rng), f"pdfpage-{i}-{off}", off))
    return {
        "doc_id": doc_id,
        "spans": [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in spans
        ],
    }


def gen_documents(n_docs: int, seed: int = 42) -> list[dict]:
    return [gen_document(seed, i) for i in range(n_docs)]


def write_corpus_parquet(
    path: str, n_docs: int, seed: int = 42, docs_per_file: int = 250
) -> None:
    """Write the synthetic corpus as parquet without Spark (pyarrow).

    Written as a DIRECTORY of part files (≤ docs_per_file docs each) with
    small row groups: Spark's scan parallelism comes from file splits, and a
    single fat file would serialize the scan+explode stage into one task —
    the realistic 100 TB layout is many files, so the bench input mirrors it.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )

    def _table(docs):
        return pa.table(
            {
                "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
                "spans": pa.array(
                    [
                        [
                            (s["kind"], s["text"], s["media_ref"], s["offset"])
                            for s in d["spans"]
                        ]
                        for d in docs
                    ],
                    pa.list_(span_t),
                ),
            }
        )

    # idempotent: clear any previous corpus at this path (a smaller rerun
    # must not leave stale part files; a file→directory switch must not
    # crash os.makedirs)
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    if n_docs <= docs_per_file:
        pq.write_table(_table(gen_documents(n_docs, seed)), path,
                       row_group_size=64)
        return
    os.makedirs(path, exist_ok=True)
    part = 0
    for lo in range(0, n_docs, docs_per_file):
        docs = [
            gen_document(seed, i) for i in range(lo, min(lo + docs_per_file, n_docs))
        ]
        pq.write_table(
            _table(docs),
            os.path.join(path, f"part-{part:05d}.parquet"),
            row_group_size=64,
        )
        part += 1


def interleave_flat_documents(df):
    """Spark adapter: driver's flat documents(doc_id, text, ...) table →
    interleaved documents(doc_id, spans).

    Fully deterministic from (doc_id, text): sentences of ``text`` become
    text spans; fixed boiler/footnote/table/kv/media spans are injected at
    positions keyed on an md5-derived selector. Every expression here has an
    exact DuckDB equivalent (no lookbehind regex, no crc32) so the driver's
    oracle can reproduce the full interleave+extract chain in SQL.
    """
    from pyspark.sql import functions as F

    # portable sentence split: mark boundaries, then split (no lookbehind)
    sentences = F.split(
        F.regexp_replace(F.col("text"), r"([.!?]) ", "$1\x1e"), "\x1e"
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    boiler = F.element_at(
        F.array(*[F.lit(b) for b in BOILER_LINES]),
        (h % len(BOILER_LINES) + 1).cast("int"),
    )
    foot = F.element_at(
        F.array(*[F.lit(x) for x in FOOTNOTE_TEMPLATES]),
        (h % len(FOOTNOTE_TEMPLATES) + 1).cast("int"),
    )
    table_payload = F.concat_ws(
        US,
        F.lit("r0c0:Metric"),
        F.lit("r0c1:Value"),
        F.concat(F.lit("r1c0:chars")),
        F.concat(F.lit("r1c1:"), F.col("n_chars").cast("string")),
        F.concat(F.lit("r2c1:"), (h % 1000).cast("string")),
    )
    kv_payload = F.concat(F.lit("Language"), F.lit(US), F.col("lang"))
    kv2_payload = F.concat(F.lit("Source"), F.lit(US), F.col("source"))

    head = F.array(
        F.struct(
            F.lit("boiler").alias("kind"),
            boiler.alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )
    )
    body = F.transform(
        sentences,
        lambda s, i: F.struct(
            F.lit("text").alias("kind"),
            s.alias("text"),
            F.lit("").alias("media_ref"),
            (i + 1).cast("int").alias("offset"),
        ),
    )
    n = F.size(sentences)
    tail = F.array(
        F.struct(
            F.lit("table").alias("kind"),
            table_payload.alias("text"),
            F.lit("").alias("media_ref"),
            (n + 1).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("kv").alias("kind"),
            kv_payload.alias("text"),
            F.lit("").alias("media_ref"),
            (n + 2).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("kv").alias("kind"),
            kv2_payload.alias("text"),
            F.lit("").alias("media_ref"),
            (n + 3).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            F.concat(F.lit("asset-"), F.col("doc_id").cast("string")).alias(
                "media_ref"
            ),
            (n + 4).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("text").alias("kind"),
            foot.alias("text"),
            F.lit("").alias("media_ref"),
            (n + 5).cast("int").alias("offset"),
        ),
    )
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(head, body, tail).alias("spans"),
    )
