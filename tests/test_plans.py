"""Physical-plan assertions: the optimizer properties the engine's scale
story depends on must not silently regress.

These parse `.explain` output — brittle by nature, so each assertion targets
a stable, load-bearing property: column pruning, filter pushdown, broadcast
of small dims, and the extraction pipeline's scan/shuffle budget."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as em
from pdftableextractor_spark.operators.extract import extract_spans

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_pricing_summary_prunes_and_pushes(spark):
    plan = _plan(em.queries()["q13_pricing_summary"](spark, SF))
    scan = [l for l in plan.split("\n") if "FileScan parquet" in l][-1]
    # column pruning: o_orderkey etc. absent; only the 7 needed columns
    assert "l_shipdate" in scan and "l_orderkey" not in scan
    # the shipdate filter reaches the scan
    assert "l_shipdate" in plan.split("DataFilters")[1].split("]")[0]


def test_star_join_broadcasts_dims(spark):
    plan = _plan(em.queries()["q32_star_join_agg"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region


def test_stratified_sample_is_shuffle_free(spark):
    """Hash sampling must stay a pure scan-side filter — zero Exchanges."""
    from pdftableextractor_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    plan = _plan(stratified_sample(docs, {"src0": 0.5}))
    assert "Exchange" not in plan.split("== Physical Plan ==")[1]


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must broadcast — the corpus side is probed
    with a BroadcastHashJoin, never shuffled against the benchmark."""
    from pdftableextractor_spark.operators.dedup import ngram_decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    bench = docs.limit(5)
    plan = _plan(ngram_decontaminate(docs, bench, n=3))
    phys = plan.split("== Physical Plan ==")[1]
    assert "BroadcastHashJoin" in phys


def test_pack_shards_single_group_exchange(spark):
    """Shard packing is a two-level prefix sum (round 4): an
    order-preserving range exchange, pinned once, feeding a (group, __bkt)
    local-cumsum window — never a global single-partition sort, and never
    a window partitioned on the group column alone (one task per group)."""
    from pdftableextractor_spark.operators.sampling import (
        _range_buckets,
        pack_shards,
    )

    docs = spark.createDataFrame(
        [(f"{i:03d}", f"g{i % 4}", 100) for i in range(100)],
        ["doc_id", "source", "n_tokens"],
    )
    # the bucketing is the lazy helper pack_shards pins
    bkt = _plan(_range_buckets(docs, None)).split(
        "== Physical Plan =="
    )[1]
    assert "Exchange rangepartitioning" in bkt
    assert "__bkt" in bkt
    assert "SinglePartition" not in bkt
    phys = _plan(pack_shards(docs, 1000)).split("== Physical Plan ==")[1]
    assert "ExistingRDD" in phys
    assert "__bkt" in phys
    assert "SinglePartition" not in phys
    # the big-side cumsum window partitions by (group, bucket) — the only
    # group-only exchange left is the tiny per-bucket totals frame, which
    # must come back as a broadcast, never a shuffle join of the corpus
    assert any(
        seg[:80].startswith("source") and "__bkt" in seg[:80]
        for seg in phys.split("Exchange hashpartitioning(")[1:]
    ), "no (group, __bkt) window exchange found"
    assert "BroadcastHashJoin" in phys


def _assert_extract_plan_shape(docs, scans):
    """Unsalted: no exchange, no window and one Arrow Python node over
    ``scans`` parquet scans. Salted: one doc_id hash exchange on top."""
    for salt in (False, True):
        phys = _plan(extract_spans(docs, salt=salt)).split(
            "== Physical Plan =="
        )[1]
        exchanges = phys.count("Exchange")
        if salt:
            assert exchanges == 1, phys
            assert phys.count("Exchange hashpartitioning(doc_id") == 1, phys
        else:
            assert exchanges == 0, phys
        assert "Window" not in phys
        assert phys.count("ArrowEvalPython") == 1, phys
        assert "MapInPandas" not in phys and "BatchEvalPython" not in phys
        assert phys.count("FileScan parquet") == scans


def test_extract_reads_two_scans_one_shuffle(spark):
    docs = spark.createDataFrame(
        [("d1", [("text", "Hello world.", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    # every span kind is handled inside its document's row
    _assert_extract_plan_shape(docs, scans=0)


def test_extract_scan_budget_on_parquet(spark, tmp_path):
    from pdftableextractor_spark import corpus

    p = str(tmp_path / "c.parquet")
    corpus.write_corpus_parquet(p, 5, seed=3)
    _assert_extract_plan_shape(spark.read.parquet(p), scans=1)


def test_extract_construction_starts_no_job(spark, tmp_path):
    """Building extract_spans over parquet, salted or not, starts no
    Spark job."""
    from pdftableextractor_spark import corpus

    p = str(tmp_path / "c.parquet")
    corpus.write_corpus_parquet(p, 5, seed=3)
    docs = spark.read.parquet(p)
    for salt in (False, True):
        _, jobs = _jobs_started(spark, lambda: extract_spans(docs, salt=salt))
        assert jobs == 0, f"salt={salt}: {jobs} jobs"


def test_extract_frames_pins_once(spark, tmp_path):
    """extract_frames over parquet starts the jobs of exactly one pin, and
    every frame is a projection of it: one pinned scan (Scan ExistingRDD),
    no window, no exchange and no Python node."""
    from pdftableextractor_spark import corpus
    from pdftableextractor_spark.operators.extract import extract_frames

    p = str(tmp_path / "c.parquet")
    corpus.write_corpus_parquet(p, 5, seed=3)
    docs = spark.read.parquet(p)
    _, pin_jobs = _jobs_started(spark, lambda: docs.localCheckpoint(eager=True))
    frames, jobs = _jobs_started(spark, lambda: extract_frames(docs))
    assert pin_jobs >= 1 and jobs == pin_jobs, (jobs, pin_jobs)
    for name, df in frames.items():
        phys = _plan(df).split("== Physical Plan ==")[1]
        assert phys.count("Scan ExistingRDD") == 1, (name, phys)
        for node in ("Window", "Exchange", "ArrowEvalPython", "MapInPandas",
                     "BatchEvalPython"):
            assert node not in phys, (name, node, phys)


def test_documents_filter_pushdown(spark):
    plan = _plan(em.queries()["q02_substantial_filter"](spark, SF))
    scan = [l for l in plan.split("\n") if "FileScan parquet" in l][-1]
    assert "n_chars" in scan  # filter travelled into the scan's DataFilters
    assert "lang" not in scan  # unused columns pruned


def test_table_points_single_scan_no_joins(spark, tmp_path):
    """Header/label pairing must be window-based: ONE scan of the cells
    frame, no self-joins (the join formulation scanned it three times)."""
    from pdftableextractor_spark.operators.structure import table_points

    p = str(tmp_path / "cells.parquet")
    spark.createDataFrame(
        [("d1", 0, 0, 0, "Metric"), ("d1", 0, 0, 1, "Q1"),
         ("d1", 0, 1, 0, "alpha"), ("d1", 0, 1, 1, "$5")],
        ["doc_id", "offset", "row_idx", "col_idx", "text"],
    ).write.parquet(p)
    plan = _plan(table_points(spark.read.parquet(p)))
    assert plan.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_build_session_honors_master_and_sizes_shuffle(spark):
    """The session fixture was built with an explicit master; shuffle
    partitions must be 4x its core count (the submit-clobbering regression
    pinned: an explicit master must never be silently replaced)."""
    assert spark.sparkContext.master == "local[4]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"


def _mb(size: str) -> float:
    """A JVM memory size ("8046m", "32g", "512k") in MB."""
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    unit = size[-1].lower()
    return float(size[:-1]) * scale[unit] if unit in scale else int(size) / 2**20


def test_default_driver_heap_fits_physical_memory(spark):
    """Without SPARK_DRIVER_MEM the session's driver heap is sized from
    the host: at most half of physical memory, and never above 32g."""
    import os

    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    if os.environ.get("SPARK_DRIVER_MEM"):
        assert heap == os.environ["SPARK_DRIVER_MEM"]
        return
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20
    assert _mb(heap) <= min(phys_mb / 2, 32 * 1024), (heap, phys_mb)


def test_bm25_no_explode_two_exchanges(spark):
    """BM25 must stay shuffle-free for tf: no Generate anywhere; the only
    Exchanges are the one-row stats reduce and its broadcast."""
    from pdftableextractor_spark.operators.ranking import bm25_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    phys = _plan(bm25_scores(docs, ["scan", "table"])).split(
        "== Physical Plan =="
    )[1]
    assert "Generate" not in phys
    assert phys.count("Exchange") <= 2


def test_temperature_mix_broadcasts_fractions(spark):
    """Per-stratum fractions (one row per stratum) must broadcast back to
    the corpus — never a shuffle join on the stratum key."""
    from pdftableextractor_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    phys = _plan(temperature_mix(docs)).split("== Physical Plan ==")[1]
    assert "BroadcastHashJoin" in phys
    assert "SortMergeJoin" not in phys


def test_round4_operators_plan_shapes(spark):
    """Pin the round-4 operators' physical shapes: scan-side gram
    construction means NO Window anywhere in q62/q63/q65; nothing plans a
    cartesian/broadcast-nested-loop; containment's shingle-array frame is
    pinned by a localCheckpoint, not a session-lifetime persist (5 branches
    read it); fuzzy decontamination broadcasts the benchmark side."""
    from pyspark.sql import functions as F

    from pdftableextractor_spark.operators.dedup import (
        containment_pairs,
        duplicate_ngram_spans,
        fuzzy_decontaminate,
        mask_duplicate_spans,
    )
    from pdftableextractor_spark.operators.textstats import (
        bigram_transition_score,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).withColumn("doc_id", F.col("doc_id").cast("string"))

    def phys(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for df in (
        duplicate_ngram_spans(docs, n=4),
        bigram_transition_score(docs),
        mask_duplicate_spans(docs, n=4),
    ):
        p = phys(df)
        assert "Window" not in p, "gram construction regressed to a window"
        assert "CartesianProduct" not in p

    spark.catalog.clearCache()  # known-clean baseline for the leak assert
    p = phys(containment_pairs(docs, threshold=0.5))
    assert "ExistingRDD" in p, "shingle localCheckpoint not in effect"
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the materialization must NOT pin a CacheManager entry (the round-4
    # persist leaked one per call for the session lifetime)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "containment_pairs left a pinned cache entry"

    bench = docs.filter(F.col("doc_id").cast("bigint") % 20 == 0)
    corp = docs.filter(F.col("doc_id").cast("bigint") % 20 != 0)
    p = phys(fuzzy_decontaminate(corp, bench, n=3, threshold=0.5))
    assert p.count("BroadcastHashJoin") >= 2, "bench side must broadcast"
    assert "Window" not in p and "CartesianProduct" not in p


def _jobs_started(spark, build):
    """(result of ``build()``, number of Spark jobs it started)."""
    import uuid

    sc = spark.sparkContext
    group = f"construction-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_containment_threshold_outside_unit_interval_raises_before_any_job(
    spark,
):
    """containment_pairs, fuzzy_decontaminate, video_near_dups and
    binary_near_dups reject a threshold of 0 (containment_pairs' prefix
    filter would admit every shingle, fuzzy_decontaminate would drop every
    document sharing one shingle with the benchmark) or above 1 (no pair
    could pass) with ValueError, before the pin or any other Spark job."""
    import pytest

    from pdftableextractor_spark.operators.dedup import (
        containment_pairs,
        fuzzy_decontaminate,
    )
    from pdftableextractor_spark.operators.multimodal import (
        binary_near_dups,
        video_near_dups,
    )

    docs = spark.createDataFrame(
        [("a", "one two three four"), ("b", "one two three five")],
        "doc_id string, text string",
    )
    assets = spark.createDataFrame(
        [("v", "video", bytearray(b"payload"))],
        "asset_id string, kind string, payload binary",
    )
    ops = {
        "containment_pairs": lambda t: containment_pairs(docs, threshold=t),
        "fuzzy_decontaminate": lambda t: fuzzy_decontaminate(
            docs, docs, threshold=t
        ),
        "video_near_dups": lambda t: video_near_dups(assets, threshold=t),
        "binary_near_dups": lambda t: binary_near_dups(assets, threshold=t),
    }
    for name, op in ops.items():
        for threshold in (0, 1.5):
            def build():
                with pytest.raises(ValueError, match="threshold"):
                    op(threshold)

            _, jobs = _jobs_started(spark, build)
            assert jobs == 0, (name, threshold, jobs)


def test_pin_materializes_once_outside_the_cache_manager(spark, monkeypatch):
    """pin runs its materialization job(s) during the call, under the
    description ``pin: <reason>`` and the caller's job group; the result
    reads one Scan ExistingRDD and no exchange; the CacheManager stays
    empty (not a persist); the caller's job group and description read the
    same after the call."""
    from pdftableextractor_spark.plans.pin import pin

    sc = spark.sparkContext
    agg = spark.read.parquet(f"{SF}/documents.parquet").groupBy("source").count()
    frame_cls = type(agg)
    checkpoint = frame_cls.localCheckpoint
    seen = []

    def recording(self, *args, **kwargs):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    pinned, jobs = _jobs_started(spark, lambda: pin(agg, "unit test"))
    assert jobs >= 1, jobs
    assert seen == ["pin: unit test"], seen
    phys = _plan(pinned).split("== Physical Plan ==")[1]
    assert phys.count("Scan ExistingRDD") == 1 and "Exchange" not in phys, phys
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    for desc in ("the caller's description", None):
        sc.setJobGroup("pin-caller", desc)
        try:
            pin(agg, "unit test")
            assert sc.getLocalProperty("spark.jobGroup.id") == "pin-caller"
            assert sc.getLocalProperty("spark.job.description") == desc
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def _index_read_jobs(spark, idx):
    """Jobs that reading an IVF index's vectors table starts by itself
    (the parquet schema inference); its centroids table is read with the
    schema its build writes, which starts none."""
    return _jobs_started(spark, lambda: spark.read.parquet(f"{idx}/vectors"))[1]


def test_ivf_index_opens_in_one_job(spark, tmp_path):
    """Opening a persisted IVF index starts exactly one job beyond the
    schema read of its vectors table: the collect of its k centroid rows
    gives the stamp set, the row count and the centroid vectors."""
    from pdftableextractor_spark.operators.similarity import (
        _validated_index,
        build_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.select("vec_id", "embedding"), idx, k=4, iters=1)
    _, jobs = _jobs_started(spark, lambda: _validated_index(spark, idx))
    assert jobs == _index_read_jobs(spark, idx) + 1, jobs


def test_append_to_ivf_index_pins_nothing(spark, tmp_path, monkeypatch):
    """append_to_ivf_index pins no frame, and the count it returns is the
    number of rows its one write appended (an Observation on the write):
    beyond the vectors table's schema read, opening the index and the
    write are its only jobs."""
    from pdftableextractor_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 400), idx, k=4, iters=1)

    def no_pin(self, *args, **kwargs):
        raise AssertionError("append_to_ivf_index pinned a frame")

    monkeypatch.setattr(type(emb), "localCheckpoint", no_pin)
    n, jobs = _jobs_started(
        spark,
        lambda: append_to_ivf_index(
            spark, emb.filter(F.col("vec_id") >= 400), idx
        ),
    )
    monkeypatch.undo()
    assert n == 100, n
    assert spark.read.parquet(f"{idx}/vectors").count() == 400 + n
    assert jobs == _index_read_jobs(spark, idx) + 2, jobs


def test_incremental_dedup_is_one_lazy_query(spark):
    """Building minhash_near_dups_incremental starts no Spark job, and its
    physical plan reads no pinned (checkpointed) frame."""
    from pdftableextractor_spark.operators.dedup import (
        minhash_near_dups_incremental,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    is_new = F.col("doc_id").cast("bigint") % 5 == 0
    pairs, jobs = _jobs_started(
        spark,
        lambda: minhash_near_dups_incremental(
            docs.filter(is_new), docs.filter(~is_new), n=1, num_hashes=16
        ),
    )
    assert jobs == 0
    phys = _plan(pairs).split("== Physical Plan ==")[1]
    assert "Scan ExistingRDD" not in phys


def test_spread_underparallel_scan_runs_no_job(spark):
    """The partition probe reads the plan: a shuffled frame comes back
    unchanged and a single-file scan is spread, neither starting a job."""
    from pdftableextractor_spark.plans.skew import spread_underparallel_scan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    shuffled = docs.groupBy("source").count()
    out, jobs = _jobs_started(
        spark, lambda: spread_underparallel_scan(shuffled, "source")
    )
    assert out is shuffled and jobs == 0

    assert spark.sparkContext.defaultParallelism > 1
    out, jobs = _jobs_started(
        spark, lambda: spread_underparallel_scan(docs, "doc_id")
    )
    assert jobs == 0
    assert "REPARTITION_BY_NUM" in _plan(out)


def _final_plan(df) -> str:
    """The executed (AQE final) physical plan of ``df``, after running it."""
    assert df.collect(), "empty results let AQE drop the plan"
    return df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]


def _near_dup_inputs(spark, tmp_path):
    """Small parquet inputs: documents, embeddings and an assets table
    whose byte-identical payloads pair in every media kind."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    p = str(tmp_path / "assets.parquet")
    spark.createDataFrame(
        [
            (f"{kind}-{i}", kind, bytearray(payload))
            for kind in ("image", "audio", "video")
            for i, payload in enumerate((b"same bytes", b"same bytes", b"other"))
        ],
        "asset_id string, kind string, payload binary",
    ).write.parquet(p)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    return docs, spark.read.parquet(p), emb


def test_near_dup_signatures_run_once_without_pins(spark, tmp_path):
    """Building each bucket-join near-dup operator starts no job, and on a
    small parquet input both join sides read one exchange of the bucket
    rows (a ReusedExchange), so the signature stage runs once: one
    decode kernel for image/audio, one cosine kernel for embeddings."""
    from pdftableextractor_spark.operators.dedup import (
        embedding_near_dups,
        minhash_near_dups,
        simhash_near_dups,
        simhash_near_dups_multiband,
    )
    from pdftableextractor_spark.operators.multimodal import (
        audio_near_dups,
        image_near_dups,
    )

    docs, assets, emb = _near_dup_inputs(spark, tmp_path)
    cases = {
        # name: (build, bucket key, kernel node that must appear once)
        "minhash": (lambda: minhash_near_dups(docs, n=3), "band_idx", None),
        "simhash": (lambda: simhash_near_dups(docs), "block", None),
        "multiband": (lambda: simhash_near_dups_multiband(docs), "t", None),
        "image": (lambda: image_near_dups(assets), "t", "MapInPandas"),
        "audio": (lambda: audio_near_dups(assets), "t", "MapInPandas"),
        "embedding": (
            lambda: embedding_near_dups(emb, threshold=0.35), "block",
            "ArrowEvalPython",
        ),
    }
    for name, (build, key, kernel) in cases.items():
        df, jobs = _jobs_started(spark, build)
        assert jobs == 0, (name, jobs)
        phys = _final_plan(df)
        reused = [
            l for l in phys.split("\n")
            if "ReusedExchange" in l and f"hashpartitioning({key}#" in l
        ]
        assert len(reused) == 1, (name, phys)
        assert "Scan ExistingRDD" not in phys, (name, phys)
        if kernel:
            assert phys.count(kernel) == 1, (name, phys)


def test_key_set_containment_pins_the_kernel_once(spark, tmp_path, monkeypatch):
    """video_near_dups and binary_near_dups start only the jobs of one
    eager pin, and the pinned plan runs the signature kernel once."""
    from pdftableextractor_spark.operators.multimodal import (
        binary_near_dups,
        cdc_chunk_hashes,
        video_frame_hashes,
        video_near_dups,
    )

    _, assets, _ = _near_dup_inputs(spark, tmp_path)
    cases = {
        "video": (
            lambda: video_near_dups(assets),
            lambda: video_frame_hashes(assets),
        ),
        "binary": (
            lambda: binary_near_dups(assets, avg_bits=6),
            lambda: cdc_chunk_hashes(assets, avg_bits=6).distinct(),
        ),
    }
    frame_cls = type(assets)
    pinned = []
    pin = frame_cls.localCheckpoint

    def recording_pin(self, *args, **kwargs):
        pinned.append(_plan(self).split("== Physical Plan ==")[1])
        return pin(self, *args, **kwargs)

    for name, (build, sigs) in cases.items():
        _, pin_jobs = _jobs_started(
            spark, lambda: sigs().localCheckpoint(eager=True)
        )
        pinned.clear()
        monkeypatch.setattr(frame_cls, "localCheckpoint", recording_pin)
        df, jobs = _jobs_started(spark, build)
        monkeypatch.setattr(frame_cls, "localCheckpoint", pin)
        assert pin_jobs >= 1 and jobs == pin_jobs, (name, jobs, pin_jobs)
        assert len(pinned) == 1, (name, pinned)
        assert pinned[0].count("MapInPandas") == 1, (name, pinned[0])
        assert df.collect(), name


def test_containment_pairs_pins_one_shingle_frame(spark, monkeypatch):
    """containment_pairs starts only the jobs of one eager pin, each
    document's distinct shingle array, and every pinned scan in its final
    plan reads that one (doc_id, arr) frame: the shingle rows, the sizes
    and both verify sides are projections of it."""
    import re

    from pdftableextractor_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    frame_cls = type(docs)
    pin = frame_cls.localCheckpoint
    pinned = []

    def recording_pin(self, *args, **kwargs):
        pinned.append(self.columns)
        return pin(self, *args, **kwargs)

    _, pin_jobs = _jobs_started(spark, lambda: docs.localCheckpoint(eager=True))
    monkeypatch.setattr(frame_cls, "localCheckpoint", recording_pin)
    df, jobs = _jobs_started(
        spark, lambda: containment_pairs(docs, threshold=0.5)
    )
    monkeypatch.setattr(frame_cls, "localCheckpoint", pin)
    assert pin_jobs >= 1 and jobs == pin_jobs, (jobs, pin_jobs)
    assert pinned == [["doc_id", "arr"]], pinned
    scans = re.findall(r"Scan ExistingRDD\[([^\]]*)\]", _final_plan(df))
    assert scans, "no pinned scan"
    assert {re.sub(r"#\d+", "", s) for s in scans} == {"doc_id,arr"}, scans


def test_ngram_operators_build_without_jobs(spark):
    """Building the span, mask, decontamination and bigram-LM operators
    starts no Spark job: none of them pins."""
    from pdftableextractor_spark.operators.dedup import (
        duplicate_ngram_spans,
        fuzzy_decontaminate,
        mask_duplicate_spans,
        ngram_decontaminate,
    )
    from pdftableextractor_spark.operators.textstats import (
        bigram_transition_score,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    is_bench = F.col("doc_id").cast("bigint") % 20 == 0
    corp, bench = docs.filter(~is_bench), docs.filter(is_bench)
    cases = {
        "duplicate_ngram_spans": lambda: duplicate_ngram_spans(docs),
        "mask_duplicate_spans": lambda: mask_duplicate_spans(docs),
        "mask_duplicate_spans(min_run)": lambda: mask_duplicate_spans(
            docs, min_run=8
        ),
        "fuzzy_decontaminate": lambda: fuzzy_decontaminate(corp, bench),
        "ngram_decontaminate": lambda: ngram_decontaminate(corp, bench, n=3),
        "bigram_transition_score": lambda: bigram_transition_score(docs),
    }
    for name, build in cases.items():
        _, jobs = _jobs_started(spark, build)
        assert jobs == 0, (name, jobs)
