"""Property-based fuzz: pipeline == oracle on adversarial inputs the corpus
generator would never emit (regex metacharacters, stray separators,
malformed table/kv/pdf payloads, unicode)."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st

from pdftableextractor_spark import oracle
from pdftableextractor_spark.kernels.layout import layout_pages
from pdftableextractor_spark.operators.extract import extract_spans
from pdftableextractor_spark.types import RS, US
from tests.test_layout import layout_page, oracle_pages

# Spark-backed properties do not shrink: each shrink step re-runs Spark
# jobs, so a failure would take many times a passing run to report. The
# failing example is reported as drawn; the pure-Python fuzz still shrinks.
NO_SHRINK = tuple(p for p in Phase if p != Phase.shrink)

TEXTY = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), blacklist_characters="\x1e\x1f"
    ),
    max_size=60,
)
WORDISH = st.text(
    alphabet=st.characters(
        min_codepoint=33, max_codepoint=0x2FF, blacklist_characters="\x1e\x1f"
    ),
    min_size=1,
    max_size=10,
)


def _span(kind, text, media="", offset=0):
    return {"kind": kind, "text": text, "media_ref": media, "offset": offset}


@st.composite
def documents(draw, ties=True, pdf=True):
    """One document of adversarial spans. ``ties``: offsets repeat and
    run out of array order (the order is then (offset, sub-row, array
    position), like the oracle's stable sort). ``pdf``: pdf page spans."""
    spans = []
    n = draw(st.integers(1, 8))
    kinds = ["text", "boiler", "table", "kv", "media", "junk"]
    for pos in range(n):
        off = draw(st.integers(0, n // 2)) if ties else pos
        kind = draw(st.sampled_from(kinds + (["pdf"] if pdf else [])))
        if kind == "table":
            toks = draw(
                st.lists(
                    st.one_of(
                        st.builds(
                            lambda r, c, t: f"r{r}c{c}:{t}",
                            st.integers(0, 3),
                            st.integers(0, 3),
                            TEXTY,
                        ),
                        TEXTY,  # malformed token
                    ),
                    max_size=6,
                )
            )
            text = US.join(toks)
        elif kind == "kv":
            parts = draw(st.lists(TEXTY, min_size=1, max_size=3))
            text = US.join(parts)
        elif kind == "media":
            text = ""
        elif kind == "pdf":
            text = draw(pdf_payloads())
        else:
            text = draw(TEXTY)
        media = "m-1" if kind == "media" else ""
        spans.append(_span(kind, text, media, off))
    return {"doc_id": "fuzz-0", "spans": spans}


# geometry spellings: plain; others float() reads (padding, underscores);
# and the non-finite ones, which the kernel skips like junk
GEOMETRY = st.one_of(
    st.floats(0, 1, allow_nan=False).map("{:.4f}".format),
    st.floats(0, 1, allow_nan=False).map(" {:.4f}\t".format),
    st.integers(0, 9).map("0.0_{}".format),
    st.sampled_from(["nan", "NaN", "inf", "-inf", "Infinity", "0_5"]),
)
RULE = st.floats(0, 1, allow_nan=False).map(
    lambda t: US.join(["<hr>", f"{t:.4f}", "0.0500", "0.8500", "0.0020"])
)


@st.composite
def pdf_payloads(draw):
    recs = []
    for _ in range(draw(st.integers(0, 12))):
        shape = draw(st.sampled_from(["plain", "plain", "spelled", "rule", "bad"]))
        if shape == "plain":
            w = draw(WORDISH)
            vals = [draw(st.floats(0, 1, allow_nan=False)) for _ in range(4)]
            recs.append(US.join([w] + [f"{v:.4f}" for v in vals]))
        elif shape == "spelled":
            vals = [draw(GEOMETRY) for _ in range(4)]
            recs.append(US.join([draw(WORDISH)] + vals))
        elif shape == "rule":
            recs.append(draw(RULE))
        else:  # malformed record: wrong field count
            recs.append(US.join(draw(st.lists(WORDISH, min_size=1, max_size=7))))
    return RS.join(recs)


@settings(max_examples=15, deadline=None, phases=NO_SHRINK)
@given(docs=st.lists(documents(), min_size=1, max_size=4))
def test_pipeline_matches_oracle_on_fuzzed_docs(spark, docs):
    for i, d in enumerate(docs):
        d["doc_id"] = f"fuzz-{i}"
    sdf = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in extract_spans(sdf).collect()
    )
    exp = sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in oracle.extract_corpus(docs)
    )
    assert got == exp


@settings(max_examples=50, deadline=None)
@given(payload=pdf_payloads())
# regression pin: non-numeric height field must be skipped, not crash the
# kernel (hypothesis-discovered in round 1; kept as @example so a fresh
# checkout replays it without the local example DB)
@example(payload="0\x1f0\x1f0\x1f0\x1f:")
# a NaN top: the record is skipped (np.lexsort would put it last, Python's
# sorted would keep it in input order)
@example(
    payload=RS.join(
        US.join([w, t, "0.1", "0.02", "0.01"])
        for w, t in [("a", "0.5"), ("b", "nan"), ("c", "0.2")]
    )
)
def test_layout_kernel_matches_oracle_on_fuzzed_pages(payload):
    assert layout_page(payload) == oracle._pdf_lines(payload)


PAGE = st.one_of(st.none(), st.just(""), pdf_payloads(), TEXTY)
ALL_RULES = RS.join(US.join(["<hr>", t, "0.05", "0.85", "0.002"]) for t in "0.1 0.2 0.3".split())
GOOD = US.join(["word", "0.5", "0.1", "0.02", "0.01"])
NEAR = US.join(["next", "0.505", "0.5", "0.02", "0.01"])


@settings(max_examples=60, deadline=None)
@given(docs=st.lists(st.one_of(st.none(), st.lists(PAGE, max_size=5)), max_size=6))
# a malformed page between good ones, null/empty pages and documents, an
# all-rule page, a document with no pdf span, and two pages whose words
# would share a line if they were one page
@example(
    docs=[
        [GOOD, "x\x1fnot-a-number", GOOD],
        None,
        [],
        [None, "", ALL_RULES],
        [None, None],
        [GOOD, NEAR],
    ]
)
def test_layout_pages_matches_oracle_on_fuzzed_page_lists(docs):
    """The batch kernel lays out each page of each document like the
    one-page oracle: no line crosses a page or a document."""
    got = layout_pages(pa.array(docs, pa.list_(pa.string()))).to_pylist()
    assert got == oracle_pages(docs)


@settings(max_examples=15, deadline=None, phases=NO_SHRINK)
@given(docs=st.lists(documents(ties=False), min_size=1, max_size=4))
def test_footnote_frame_matches_oracle_on_fuzzed_docs(spark, docs):
    """Raw-line numbering + footnote classification must agree with the
    pure-Python oracle on adversarial span mixes (regex metacharacters,
    junk kinds, malformed payloads, pdf pages). Offsets stay unique: at a
    shared offset the oracle below numbers a pdf span's lines as one
    block, while extract_frames interleaves them by sub_idx, like
    extract_spans."""
    from pdftableextractor_spark.operators.extract import extract_frames
    from tests.test_structure import oracle_footnotes

    for i, d in enumerate(docs):
        d["doc_id"] = f"fuzz-{i}"
    sdf = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = {}
    for r in extract_frames(sdf)["footnotes"].collect():
        got.setdefault(r["doc_id"], []).append(
            (r["line_no"], r["marker"], r["content"])
        )
    for d in docs:
        exp = oracle_footnotes(d)
        assert sorted(got.get(d["doc_id"], [])) == sorted(exp), d["doc_id"]


@settings(max_examples=15, deadline=None, phases=NO_SHRINK)
@given(docs=st.lists(documents(), min_size=1, max_size=4))
def test_frames_match_extract_spans_on_fuzzed_docs(spark, docs):
    """``extract_frames`` and ``extract_spans`` give the same lines, kvs and
    table cells, with offsets that repeat and run out of array order. Lines
    are compared in order, kvs and cells in (offset, row_idx, col_idx)
    order. Those frames carry no span position, so two tables (or two kvs)
    at one offset are indistinguishable there: such documents compare them
    as sorted multisets. pdf cells are only in ``extract_spans``, so cells
    are compared on pdf-free documents."""
    from pdftableextractor_spark.operators.extract import extract_frames

    for i, d in enumerate(docs):
        d["doc_id"] = f"fuzz-{i}"
    sdf = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    spans = {}
    for r in sorted(extract_spans(sdf).collect(), key=lambda r: r["order"]):
        spans.setdefault((r["doc_id"], r["kind"]), []).append(r["text"])
    frames = extract_frames(sdf)

    def texts(name, *key):
        got = {}
        for r in sorted(frames[name].collect(), key=lambda r: [r[k] for k in key]):
            got.setdefault(r["doc_id"], []).append(r["text"])
        return got

    lines = texts("lines", "line_no")
    kvs = texts("kvs", "offset")
    cells = texts("cells", "offset", "row_idx", "col_idx")

    def same(d, kind, got, out_kind):
        exp = spans.get((d["doc_id"], out_kind), [])
        offs = [s["offset"] for s in d["spans"] if s["kind"] == kind]
        if len(set(offs)) < len(offs):
            got, exp = sorted(got), sorted(exp)
        assert got == exp, (d["doc_id"], kind)

    for d in docs:
        i = d["doc_id"]
        assert lines.get(i, []) == spans.get((i, "text"), []), i
        same(d, "kv", kvs.get(i, []), "kv")
        if all(s["kind"] != "pdf" for s in d["spans"]):
            same(d, "table", cells.get(i, []), "table_cell")


@settings(max_examples=12, deadline=None, phases=NO_SHRINK)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0,
        max_size=60,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Star-contraction CC must equal a sequential union-find on arbitrary
    graphs (self-loops, duplicates, reversed edges, disconnected parts)."""
    from pdftableextractor_spark.operators.dedup import connected_components

    real = [(f"{a:02d}", f"{b:02d}") for a, b in edges if a != b]
    if not real:
        return
    # sequential oracle: union-find with path compression, min-label roots
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    exp = {x: find(x) for x in parent}

    df = spark.createDataFrame(real, ["doc_a", "doc_b"])
    # BOTH execution paths must match: the driver union-find fast path
    # (default threshold) and the distributed star contraction (forced)
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == exp
    got_dist = {
        r["node"]: r["component"]
        for r in connected_components(df, small_graph_threshold=0).collect()
    }
    assert got_dist == exp


@st.composite
def spaced_texts(draw):
    """A text of upper- and lower-case tokens whose separators are runs of
    spaces, tabs and newlines, leading and trailing runs included."""
    toks = draw(
        st.lists(st.sampled_from(["a", "b", "c", "A", "B", "Ab"]), max_size=12)
    )
    run = st.text(alphabet=" \t\n", min_size=1, max_size=2)
    edge = st.text(alphabet=" \t\n", max_size=2)
    text = draw(edge)
    for i, t in enumerate(toks):
        text += (draw(run) if i else "") + t
    return text + draw(edge)


def _sequential_spans(texts, n):
    """The (doc, start, gram) windows of lowercased whitespace tokens and
    each gram's set of documents — a sequential n-gram census."""
    from collections import defaultdict

    by_gram: dict[str, set] = defaultdict(set)
    spans = []
    for did, text in texts:
        toks = text.lower().split()
        for i in range(len(toks) - n + 1):
            g = " ".join(toks[i : i + n])
            by_gram[g].add(did)
            spans.append((did, i, g))
    return spans, by_gram


@settings(max_examples=10, deadline=None, phases=NO_SHRINK)
@given(
    texts=st.lists(spaced_texts(), min_size=1, max_size=8),
    n=st.integers(2, 4),
)
def test_duplicate_ngram_spans_matches_sequential(spark, texts, n):
    """Scan-side gram construction must equal a sequential n-gram census on
    arbitrary token streams (empty docs, short docs, repeated grams, mixed
    case, tab/newline separators and edges)."""
    from pdftableextractor_spark.operators.dedup import duplicate_ngram_spans

    docs = [(f"d{i}", t) for i, t in enumerate(texts)]
    spans, by_gram = _sequential_spans(docs, n)
    exp = {
        (d, i, g, len(by_gram[g]))
        for d, i, g in spans
        if len(by_gram[g]) >= 2
    }
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["start_pos"], r["gram"], r["n_docs"])
        for r in duplicate_ngram_spans(df, n=n).collect()
    }
    assert got == exp


@settings(max_examples=10, deadline=None, phases=NO_SHRINK)
@given(
    texts=st.lists(spaced_texts(), min_size=1, max_size=8),
    n=st.integers(2, 4),
    extra_run=st.sampled_from([None, 0, 1, 3]),
)
def test_mask_duplicate_spans_matches_sequential(spark, texts, n, extra_run):
    """mask_duplicate_spans must equal a sequential mask: drop every token
    a shared n-gram covers (only runs of >= min_run covered tokens when
    min_run > n), keep the survivors in their original case."""
    from pdftableextractor_spark.operators.dedup import mask_duplicate_spans

    min_run = None if extra_run is None else n + extra_run
    docs = [(f"d{i}", t) for i, t in enumerate(texts)]
    spans, by_gram = _sequential_spans(docs, n)
    covered: dict[str, set] = {d: set() for d, _ in docs}
    for d, i, g in spans:
        if len(by_gram[g]) >= 2:
            covered[d].update(range(i, i + n))
    exp = set()
    for d, text in docs:
        cut = set(covered[d])
        if min_run is not None and min_run > n:
            cut, run = set(), []
            for p in sorted(covered[d]) + [None]:
                if run and p != run[-1] + 1:
                    if len(run) >= min_run:
                        cut.update(run)
                    run = []
                if p is not None:
                    run.append(p)
        toks = text.split()
        kept = [t for i, t in enumerate(toks) if i not in cut]
        exp.add((d, " ".join(kept), len(toks), len(toks) - len(kept)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        tuple(r)
        for r in mask_duplicate_spans(df, n=n, min_run=min_run).collect()
    }
    assert got == exp


@settings(max_examples=10, deadline=None, phases=NO_SHRINK)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.integers(10, 500),
        ),
        min_size=1,
        max_size=40,
    ),
    frac_pct=st.integers(0, 100),
    buckets=st.integers(1, 7),
)
def test_sampling_ops_fuzz(spark, rows, frac_pct, buckets):
    """drop_bottom_percentile never drops more than frac of a stratum (ties
    survive) and keeps the top scores; pack_shards is invariant to the
    bucket count and matches the sequential greedy packing."""
    from collections import defaultdict

    from pdftableextractor_spark.operators.sampling import pack_shards
    from pdftableextractor_spark.operators.textstats import (
        drop_bottom_percentile,
    )

    frac = frac_pct / 100.0
    docs = spark.createDataFrame(
        [(f"d{i:03d}", s, float(v)) for i, (s, v) in enumerate(rows)],
        ["doc_id", "source", "quality"],
    )
    kept = drop_bottom_percentile(docs, frac).collect()
    per_in: dict[str, list] = defaultdict(list)
    for i, (s, v) in enumerate(rows):
        per_in[s].append((float(v), f"d{i:03d}"))
    per_out: dict[str, set] = defaultdict(set)
    for r in kept:
        per_out[r["source"]].add(r["doc_id"])
    for s, vals in per_in.items():
        n = len(vals)
        cut = n * frac_pct // 100  # bigint-exact cutoff used by the engine
        # sequential nearest-rank: threshold = smallest score whose
        # inclusive cumulative count exceeds the cutoff
        svals = sorted(vals)
        seen, thr = 0, None
        from itertools import groupby

        for score, grp in groupby(svals, key=lambda t: t[0]):
            seen += len(list(grp))
            if seen * 100 > n * frac_pct:
                thr = score
                break
        # absence-of-evidence convention (see drop_bottom_percentile's
        # docstring): no threshold row — only possible at frac >= 1.0,
        # where the strict rank inequality admits none — means the
        # stratum passes UN-GATED, it does not vanish
        if thr is None:
            exp = {d for _, d in vals}
        else:
            exp = {d for v, d in vals if v >= thr}
        assert per_out[s] == exp, f"stratum {s}: {per_out[s]} != {exp}"
        if thr is not None:
            assert len(exp) >= n - cut  # threshold ties only ADD rows

    from pyspark.sql import functions as F

    shard_in = docs.withColumnRenamed("quality", "wt").withColumn(
        "n_tokens", F.col("wt").cast("bigint")
    )
    out = {
        r["doc_id"]: r["shard_idx"]
        for r in pack_shards(
            shard_in, budget_tokens=700, num_buckets=buckets
        ).collect()
    }
    cum: dict[str, int] = defaultdict(int)
    exp_shards = {}
    for i, (s, v) in sorted(enumerate(rows), key=lambda t: f"d{t[0]:03d}"):
        d = f"d{i:03d}"
        exp_shards[d] = cum[s] // 700
        cum[s] += int(v)
    assert out == exp_shards
