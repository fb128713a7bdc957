"""Vector-index lifecycle: build -> persist -> cross-session load ->
search with NO encode stage; staleness detection; refresh on
re-ingest; IVF partition pruning."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from queens_spark.store.vector_index import (
    VectorIndex,
    build_or_load_vector_index,
    build_vector_index,
    load_vector_index,
    source_fingerprint,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(EMB)


def test_build_then_load_searches_stored_codes_only(spark, emb, tmp_path):
    """After a build, a LOADED index (fresh handle, manifest only)
    answers ADC searches from the stored parquet codes — the plan
    scans the index artifact, never the raw vectors, and contains no
    encode projection."""
    idir = str(tmp_path / "vidx")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 3).collect()[0]["embedding"]]
    build_vector_index(emb, "embedding", "vec_id", "e", idir)

    idx = load_vector_index(spark, idir, "e")
    out = idx.adc_topk(qvec, k=5)
    plan = plan_of(out)
    assert "pq_codes" in plan
    assert "embeddings.parquet" not in plan  # no raw-vector touch
    assert out.count() == 5

    # stored codes are bit-identical to the inline encoder on the
    # same seeds, so searches agree exactly
    from queens_spark.operators.similarity import (
        pq_adc_lut,
        pq_adc_topk,
        pq_encode,
    )

    seeds = [r["embedding"] for r in
             emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    inline = pq_adc_topk(
        pq_encode(emb, "embedding", "vec_id", seeds),
        "vec_id", pq_adc_lut(qvec, seeds), k=5,
    ).collect()
    stored = out.collect()
    assert [(r["vec_id"], r["adist"]) for r in stored] == \
           [(r["vec_id"], r["adist"]) for r in inline]


def test_two_stage_search_from_stored_index(spark, emb, tmp_path):
    """two_stage_search re-ranks only the shortlist: exact cosine
    results match the fully-inline q103 pipeline."""
    from queens_spark.operators.similarity import (
        cosine_from_ints,
        int_dot,
        int_norm2,
        pq_adc_lut,
        pq_adc_topk,
        pq_encode,
        quantize,
    )

    idir = str(tmp_path / "vidx")
    rows = {r["vec_id"]: r["embedding"]
            for r in emb.where(F.col("vec_id") <= 42).collect()}
    qvec = [float(x) for x in rows[42]]
    idx = build_vector_index(emb, "embedding", "vec_id", "e", idir)
    via_index = [(r["vec_id"], r["cosine"]) for r in
                 idx.two_stage_search(emb, "embedding", qvec,
                                      shortlist=20, k=5).collect()]

    seeds = [rows[i] for i in range(16)]
    short = pq_adc_topk(
        pq_encode(emb, "embedding", "vec_id", seeds),
        "vec_id", pq_adc_lut(qvec, seeds), k=20,
    ).select("vec_id")
    qq = quantize(F.array(*[F.lit(x) for x in qvec]))
    v = emb.join(F.broadcast(short), "vec_id").select(
        "vec_id", quantize("embedding").alias("vq"))
    cos = cosine_from_ints(
        int_dot(F.col("vq"), qq), int_norm2(F.col("vq")), int_norm2(qq))
    inline = [(r["vec_id"], r["cosine"]) for r in
              v.select("vec_id", cos.alias("cosine"))
              .orderBy(F.desc("cosine"), F.asc("vec_id")).limit(5).collect()]
    assert via_index == inline


def test_stale_fingerprint_raises_and_rebuild_refreshes(spark, emb, tmp_path):
    """Re-ingest flow: load with a changed fingerprint refuses the
    stale index; build_or_load rebuilds (version bump, old version
    GC'd) and the refreshed index covers the new vectors."""
    import os

    idir = str(tmp_path / "vidx")
    half = emb.where(F.col("vec_id") < 100)
    build_vector_index(half, "embedding", "vec_id", "e", idir,
                       fingerprint="v1")
    with pytest.raises(ValueError, match="stale"):
        load_vector_index(spark, idir, "e", expected_fingerprint="v2")
    # unchanged fingerprint: pure load, no rebuild (version stays 1)
    same = build_or_load_vector_index(
        half, "embedding", "vec_id", "e", idir, fingerprint="v1")
    assert same.entry["version"] == 1

    idx2 = build_or_load_vector_index(
        emb, "embedding", "vec_id", "e", idir, fingerprint="v2")
    assert idx2.entry["version"] == 2
    versions = sorted(os.listdir(os.path.join(idir, "e")))
    assert versions == ["v2"]  # superseded v1 garbage-collected
    # a vector only in the full corpus is now indexed
    n_half = half.count()
    assert idx2.pq_codes().where(F.col("vec_id") >= 100).count() > 0
    assert idx2.pq_codes().count() > n_half


def test_missing_index_raises_keyerror(spark, tmp_path):
    with pytest.raises(KeyError, match="no vector index"):
        load_vector_index(spark, str(tmp_path / "empty"), "nope")


def test_ivf_artifacts_partition_pruned_probe(spark, emb, tmp_path):
    """With centroid_ids the coarse quantizer persists; a probe's
    assignment scan carries the cells as PARTITION filters (the
    assignment is disk-partitioned by centroid_id), so only probed
    cells' files are read."""
    idir = str(tmp_path / "vidx")
    cent_ids = [r[0] for r in
                emb.where(F.col("vec_id") % 200 == 0)
                .select("vec_id").collect()]
    idx = build_vector_index(emb, "embedding", "vec_id", "e", idir,
                             centroid_ids=cent_ids)
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]]
    cands = idx.ivf_candidate_ids(qvec, n_probe=2)
    plan = plan_of(cands)
    assert "PartitionFilters" in plan
    assert "centroid_id IN" in plan or "centroid_id" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0]
    # probed cells' members only, and at least the nearest cell's
    assigned = {(r["vec_id"], r["centroid_id"])
                for r in idx.ivf_assignment().collect()}
    got = {r["vec_id"] for r in cands.collect()}
    probe_cells = {c for v, c in assigned if v in got}
    assert len(probe_cells) <= 2 and got
    assert all((v, c) in assigned for v in got for c in probe_cells
               if (v, c) in assigned)


def test_ivfpq_topk_one_pruned_scan(spark, emb, tmp_path):
    """IVF-PQ layout: the assignment artifact co-locates each vector's
    packed PQ code in its cell's disk partition, so ivfpq_topk is ONE
    partition-pruned scan — no join, no shuffle, no encode stage —
    and its results equal ADC over exactly the probed cells' members
    of the pq_codes artifact."""
    from queens_spark.operators.similarity import pq_adc_lut_int, pq_adc_topk

    idir = str(tmp_path / "vidx")
    cent_ids = [r[0] for r in
                emb.where(F.col("vec_id") % 200 == 0)
                .select("vec_id").collect()]
    build_vector_index(emb, "embedding", "vec_id", "e", idir,
                       centroid_ids=cent_ids)
    idx = load_vector_index(spark, idir, "e")  # fresh handle
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]]

    out = idx.ivfpq_topk(qvec, n_probe=2, k=5)
    plan = plan_of(out)
    assert "PartitionFilters" in plan
    assert "Join" not in plan and "Exchange" not in plan
    assert "embeddings.parquet" not in plan  # codes only, 4 B/vector

    # co-location invariant: the assignment's pq_code IS the codes
    # artifact's code for every id
    assign = {r["vec_id"]: r["pq_code"]
              for r in idx.ivf_assignment().collect()}
    codes = {r["vec_id"]: r["pq_code"] for r in idx.pq_codes().collect()}
    assert assign == codes

    probe = idx.probe_cells(qvec, n_probe=2)
    assert len(probe) == 2
    members = idx.ivf_assignment().where(
        F.col("centroid_id").isin(probe)).select("vec_id", "pq_code")
    expected = pq_adc_topk(
        members, "vec_id",
        pq_adc_lut_int(qvec, idx.codebook, idx.m), k=5).collect()
    assert [(r["vec_id"], r["adist"]) for r in out.collect()] == \
           [(r["vec_id"], r["adist"]) for r in expected]


def test_filtered_search_pushes_predicate_into_index_scan(
    spark, emb, tmp_path
):
    """meta_cols co-locates metadata with the codes; a search
    predicate becomes a parquet PushedFilter on the (pruned) index
    scan — still no join/shuffle — and results equal filtering the
    candidates first, never post-filtering an unfiltered top-k."""
    from queens_spark.operators.similarity import pq_adc_lut_int, pq_adc_topk

    idir = str(tmp_path / "vidx")
    cent_ids = [r[0] for r in
                emb.where(F.col("vec_id") % 200 == 0)
                .select("vec_id").collect()]
    build_vector_index(emb, "embedding", "vec_id", "e", idir,
                       centroid_ids=cent_ids, meta_cols=["label"])
    idx = load_vector_index(spark, idir, "e")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]]

    out = idx.ivfpq_topk(qvec, n_probe=2, k=5,
                         predicate=F.col("label") == 3)
    plan = plan_of(out)
    assert "Join" not in plan and "Exchange" not in plan
    assert "PartitionFilters" in plan
    assert "PushedFilters" in plan and "label" in plan.split(
        "PushedFilters", 1)[1].split("]", 1)[0]

    probe = idx.probe_cells(qvec, n_probe=2)
    members = (idx.ivf_assignment()
               .where(F.col("centroid_id").isin(probe))
               .where(F.col("label") == 3))
    expected = pq_adc_topk(
        members, "vec_id",
        pq_adc_lut_int(qvec, idx.codebook, idx.m), k=5).collect()
    assert [(r["vec_id"], r["adist"]) for r in out.collect()] == \
           [(r["vec_id"], r["adist"]) for r in expected]
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    assert all(labels[r["vec_id"]] == 3 for r in expected)

    # adc_topk takes the same predicate (unprobed, full codes scan)
    full = idx.adc_topk(qvec, k=5, predicate="label = 3").collect()
    assert all(labels[r["vec_id"]] == 3 for r in full)


def test_predicate_without_meta_cols_raises(spark, emb, tmp_path):
    idir = str(tmp_path / "vidx")
    build_vector_index(emb, "embedding", "vec_id", "e", idir)
    idx = load_vector_index(spark, idir, "e")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]]
    with pytest.raises(ValueError, match="meta_cols"):
        idx.adc_topk(qvec, k=5, predicate="label = 3")


def test_build_or_load_upgrades_to_ivf_then_serves_both(spark, emb, tmp_path):
    """Requesting IVF cells against an index built without them
    rebuilds in place (version bump); afterwards a caller that omits
    centroid_ids keeps loading the upgraded index without another
    rebuild."""
    idir = str(tmp_path / "vidx")
    plain = build_or_load_vector_index(
        emb, "embedding", "vec_id", "e", idir, fingerprint="f1")
    assert plain.entry["version"] == 1
    assert plain.entry.get("ivf_assign_path") is None

    cent_ids = [r[0] for r in
                emb.where(F.col("vec_id") % 200 == 0)
                .select("vec_id").collect()]
    ivf = build_or_load_vector_index(
        emb, "embedding", "vec_id", "e", idir, fingerprint="f1",
        centroid_ids=cent_ids)
    assert ivf.entry["version"] == 2
    assert ivf.entry["ivf_assign_path"]

    again = build_or_load_vector_index(
        emb, "embedding", "vec_id", "e", idir, fingerprint="f1")
    assert again.entry["version"] == 2  # no downgrade rebuild
    same = build_or_load_vector_index(
        emb, "embedding", "vec_id", "e", idir, fingerprint="f1",
        centroid_ids=cent_ids)
    assert same.entry["version"] == 2  # matching cells: pure load

    # requesting metadata the stored index lacks upgrades again;
    # afterwards both meta and no-meta callers serve v3
    meta = build_or_load_vector_index(
        emb, "embedding", "vec_id", "e", idir, fingerprint="f1",
        centroid_ids=cent_ids, meta_cols=["label"])
    assert meta.entry["version"] == 3
    assert meta.entry["meta_cols"] == ["label"]
    assert build_or_load_vector_index(
        emb, "embedding", "vec_id", "e", idir, fingerprint="f1",
    ).entry["version"] == 3


def test_int8_codes_match_inline_quantizer(spark, emb, tmp_path):
    from queens_spark.operators.similarity import int8_quantize

    idir = str(tmp_path / "vidx")
    idx = build_vector_index(emb, "embedding", "vec_id", "e", idir)
    stored = {r["vec_id"]: (r["amax"], tuple(r["q"]))
              for r in idx.int8_codes().collect()}
    inline = {r["vec_id"]: (r["z"]["amax"], tuple(r["z"]["q"]))
              for r in emb.select(
                  "vec_id", int8_quantize("embedding").alias("z")
              ).collect()}
    assert stored == inline


def test_source_fingerprint_detects_rewrite(tmp_path):
    p = tmp_path / "src.parquet"
    p.write_bytes(b"aaa")
    f1 = source_fingerprint(str(p))
    p.write_bytes(b"aaaa")
    assert source_fingerprint(str(p)) != f1


def test_engine_vector_index_roundtrip(spark, emb, tmp_path):
    """Engine facade: build writes under <warehouse>/system/
    vector_index; a SECOND Engine on the same root loads the index
    from the manifest alone."""
    from queens_spark.facade import Engine

    root = str(tmp_path / "wh")
    eng = Engine(spark, root)
    eng.build_vector_index(emb, "embedding", "vec_id", "docs_emb")

    eng2 = Engine(spark, root)  # fresh engine, same warehouse
    idx = eng2.vector_index("docs_emb")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 1).collect()[0]["embedding"]]
    assert idx.adc_topk(qvec, k=3).count() == 3


def test_build_with_refined_codebook_multi_iter(spark, emb, tmp_path):
    """refine_iters > 1: the stored codebook is the N-round integer
    Lloyd refinement, and the stored codes are pq_encode_int of it."""
    from queens_spark.operators.similarity import (
        pq_encode_int,
        pq_refine_codebooks,
        pq_refine_codebooks_int,
    )

    idir = str(tmp_path / "vidx")
    idx = build_vector_index(emb, "embedding", "vec_id", "e", idir,
                             refine_iters=2)
    seeds = [r["embedding"] for r in
             emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    cb1 = pq_refine_codebooks(emb, "embedding", "vec_id", seeds)
    cb2 = pq_refine_codebooks_int(emb, "embedding", "vec_id", cb1)
    assert idx.codebook == cb2
    stored = {r["vec_id"]: r["pq_code"] for r in idx.pq_codes().collect()}
    inline = {r["vec_id"]: r["pq_code"] for r in
              pq_encode_int(emb, "embedding", "vec_id", cb2).collect()}
    assert stored == inline


def test_append_segment_equals_full_rebuild(spark, emb, tmp_path):
    """Incremental refresh: build on half the corpus, append the rest
    as a segment — every artifact and search is BIT-IDENTICAL to one
    full build (the stored codebook/centroids are shared, so appended
    codes equal the rebuild's), and the appended fingerprint loads
    while the old one is stale."""
    from queens_spark.store.vector_index import append_vector_index

    old = emb.where(F.col("vec_id") < 250)
    new = emb.where(F.col("vec_id") >= 250)
    # the coarse quantizer is fixed at build time, so for the
    # bit-equivalence contract the full rebuild must use the SAME
    # cells — pick centroids present in the first batch
    cent_ids = [r[0] for r in
                old.where(F.col("vec_id") % 100 == 0)
                .select("vec_id").collect()]

    idir_inc = str(tmp_path / "inc")
    build_vector_index(old, "embedding", "vec_id", "e", idir_inc,
                       centroid_ids=cent_ids, meta_cols=["label"],
                       fingerprint="half")
    appended = append_vector_index(new, "e", idir_inc, fingerprint="full")

    idir_full = str(tmp_path / "full")
    full = build_vector_index(emb, "embedding", "vec_id", "e", idir_full,
                              centroid_ids=cent_ids, meta_cols=["label"],
                              fingerprint="full")

    def codes(idx):
        return {r["vec_id"]: r["pq_code"] for r in idx.pq_codes().collect()}

    def assign(idx):
        return {r["vec_id"]: (r["centroid_id"], r["pq_code"], r["label"])
                for r in idx.ivf_assignment().collect()}

    assert codes(appended) == codes(full)
    assert assign(appended) == assign(full)

    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 300).collect()[0]["embedding"]]
    for kw in ({}, {"predicate": "label = 3"}):
        a = appended.ivfpq_topk(qvec, n_probe=2, k=5, **kw).collect()
        b = full.ivfpq_topk(qvec, n_probe=2, k=5, **kw).collect()
        assert [(r["vec_id"], r["adist"]) for r in a] == \
               [(r["vec_id"], r["adist"]) for r in b]
    a = appended.adc_topk(qvec, k=5).collect()
    b = full.adc_topk(qvec, k=5).collect()
    assert [(r["vec_id"], r["adist"]) for r in a] == \
           [(r["vec_id"], r["adist"]) for r in b]

    # reloads see the appended fingerprint; the pre-append one is stale
    assert load_vector_index(spark, idir_inc, "e",
                             expected_fingerprint="full")
    with pytest.raises(ValueError, match="stale"):
        load_vector_index(spark, idir_inc, "e",
                          expected_fingerprint="half")


def test_unlisted_orphan_segments_invisible(spark, emb, tmp_path):
    """A crash mid-append leaves segment dirs the manifest never
    listed; readers see only listed segments."""
    import os

    from queens_spark.store.vector_index import _paths

    idir = str(tmp_path / "vidx")
    half = emb.where(F.col("vec_id") < 250)
    idx = build_vector_index(half, "embedding", "vec_id", "e", idir)
    n_before = idx.pq_codes().count()
    # simulate the crash: a fully-written but never-flipped segment
    orphan = emb.where(F.col("vec_id") >= 250)
    from queens_spark.operators.similarity import pq_encode_int

    vdir = os.path.dirname(_paths(idx.entry["pq_codes_path"])[0])
    pq_encode_int(orphan, "embedding", "vec_id", idx.codebook,
                  idx.m).write.parquet(
        os.path.join(vdir, "pq_codes_seg1"))
    reloaded = load_vector_index(spark, idir, "e")
    assert reloaded.pq_codes().count() == n_before


def test_append_to_missing_index_raises(spark, emb, tmp_path):
    from queens_spark.store.vector_index import append_vector_index

    with pytest.raises(KeyError, match="build first"):
        append_vector_index(emb, "nope", str(tmp_path / "empty"))


def test_batch_adc_matches_per_query_and_single_exchange(
    spark, emb, tmp_path
):
    """Batch ADC over the stored codes equals per-query pq_adc_topk
    bit-for-bit, and the plan has exactly ONE exchange — on the
    query key, after the pools — with no encode stage and no corpus
    touch."""
    idir = str(tmp_path / "vidx")
    build_vector_index(emb, "embedding", "vec_id", "e", idir)
    idx = load_vector_index(spark, idir, "e")

    qdf = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = idx.batch_adc_topk(qdf, k=4)
    plan = plan_of(out)
    # tree section: one Exchange node, above the MapInPandas pools
    tree = [ln for ln in plan.splitlines() if "+-" in ln or "Scan" in ln]
    assert len([ln for ln in tree if "Exchange" in ln]) == 1
    assert "MapInPandas" in plan
    assert "hashpartitioning(query_id" in plan
    assert "embeddings.parquet" not in plan

    got = {(r["query_id"], r["vec_id"], r["adist"])
           for r in out.collect()}
    expected = set()
    for r in emb.where(F.col("vec_id") < 3).collect():
        per = idx.adc_topk([float(x) for x in r["embedding"]], k=4)
        expected |= {(r["vec_id"], e["vec_id"], e["adist"])
                     for e in per.collect()}
    assert got == expected


def test_compact_merges_segments_searches_unchanged(spark, emb, tmp_path):
    """After appends, compaction rewrites the stored artifacts into
    one segment set (new version, old GC'd) with identical rows —
    every search result is unchanged."""
    import os

    from queens_spark.store.vector_index import (
        append_vector_index,
        compact_vector_index,
    )

    old = emb.where(F.col("vec_id") < 250)
    new = emb.where(F.col("vec_id") >= 250)
    cent_ids = [r[0] for r in
                old.where(F.col("vec_id") % 100 == 0)
                .select("vec_id").collect()]
    idir = str(tmp_path / "vidx")
    build_vector_index(old, "embedding", "vec_id", "e", idir,
                       centroid_ids=cent_ids, meta_cols=["label"])
    pre = append_vector_index(new, "e", idir)
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 300).collect()[0]["embedding"]]
    before = pre.ivfpq_topk(qvec, n_probe=2, k=5).collect()
    codes_before = {r["vec_id"]: r["pq_code"]
                    for r in pre.pq_codes().collect()}

    post = compact_vector_index(spark, idir, "e")
    assert post.entry["version"] == pre.entry["version"] + 1
    assert isinstance(post.entry["pq_codes_path"], str)
    assert isinstance(post.entry["ivf_assign_path"], str)
    assert sorted(os.listdir(os.path.join(idir, "e"))) == [
        f"v{post.entry['version']}"
    ]
    assert {r["vec_id"]: r["pq_code"]
            for r in post.pq_codes().collect()} == codes_before
    after = post.ivfpq_topk(qvec, n_probe=2, k=5).collect()
    assert [(r["vec_id"], r["adist"]) for r in after] == \
           [(r["vec_id"], r["adist"]) for r in before]
    # filtered search still works on the compacted layout
    assert post.ivfpq_topk(qvec, n_probe=2, k=5,
                           predicate="label = 3").count() > 0
    # single-segment compaction is a no-op (no version bump)
    again = compact_vector_index(spark, idir, "e")
    assert again.entry["version"] == post.entry["version"]


def test_int8_search_from_stored_codes(spark, emb, tmp_path):
    """int8_topk over the stored artifact equals the inline
    int8_topk_ip pipeline (same quantizer at build time); predicate
    filters via co-located metadata; no quantize pass in the plan."""
    from queens_spark.operators.similarity import int8_topk_ip

    idir = str(tmp_path / "vidx")
    build_vector_index(emb, "embedding", "vec_id", "e", idir,
                       meta_cols=["label"])
    idx = load_vector_index(spark, idir, "e")

    got = idx.int8_topk([3, 7], k=5)
    plan = plan_of(got)
    assert "embeddings.parquet" not in plan  # stored codes only
    inline = int8_topk_ip(emb, "embedding", "vec_id", [3, 7], k=5)
    key = lambda rows: sorted(
        (r["query_id"], r["vec_id"], r["dot_q"], r["approx_ip"])
        for r in rows)
    assert key(got.collect()) == key(inline.collect())

    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    filt = idx.int8_topk([3], k=5, predicate="label = 2").collect()
    assert filt and all(labels[r["vec_id"]] == 2 for r in filt)


def test_two_stage_ivfpq_with_predicate_and_ops_tooling(
    spark, emb, tmp_path
):
    """ivfpq_two_stage: shortlist equals ivfpq_topk's ids; with a
    predicate every result honors it; describe/cell_stats report the
    stored layout."""
    idir = str(tmp_path / "vidx")
    cent_ids = [r[0] for r in
                emb.where(F.col("vec_id") % 200 == 0)
                .select("vec_id").collect()]
    build_vector_index(emb, "embedding", "vec_id", "e", idir,
                       centroid_ids=cent_ids, meta_cols=["label"])
    idx = load_vector_index(spark, idir, "e")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]]

    out = idx.ivfpq_two_stage(emb, "embedding", qvec, n_probe=2,
                              shortlist=20, k=5).collect()
    short_ids = {r["vec_id"] for r in
                 idx.ivfpq_topk(qvec, n_probe=2, k=20).collect()}
    assert len(out) == 5
    assert {r["vec_id"] for r in out} <= short_ids
    # exact re-rank order: cosine desc, id asc
    assert [r["cosine"] for r in out] == sorted(
        (r["cosine"] for r in out), reverse=True)

    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    filt = idx.ivfpq_two_stage(emb, "embedding", qvec, n_probe=2,
                               shortlist=20, k=5,
                               predicate="label = 3").collect()
    assert filt and all(labels[r["vec_id"]] == 3 for r in filt)

    d = idx.describe()
    assert d["ivf_cells"] == len(cent_ids) and d["segments"] == 1
    assert d["meta_cols"] == ["label"]
    stats = {r["centroid_id"]: r["n_vectors"]
             for r in idx.cell_stats().collect()}
    assert set(stats) == set(cent_ids)
    assert sum(stats.values()) == emb.count()


def test_probe_cells_zero_norm_query_raises(spark, tmp_path):
    """An all-zero query vector must raise a clear ValueError from
    probe_cells, not ZeroDivisionError."""
    import pytest
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idir = str(tmp_path / "vi")
    cents = [r["vec_id"] for r in
             emb.where(F.col("vec_id") % 100 == 0)
             .select("vec_id").collect()]
    idx = build_vector_index(emb, "embedding", "vec_id", "z", idir,
                             centroid_ids=cents)
    dim = len(emb.limit(1).collect()[0]["embedding"])
    with pytest.raises(ValueError, match="zero quantized norm"):
        idx.probe_cells([0.0] * dim, n_probe=2)


def test_delete_tombstones_all_search_entry_points(spark, emb, tmp_path):
    """Tombstoned ids vanish from EVERY search path immediately —
    ADC, IVF-PQ probe, int8, batch ADC, and both two-stage rerankers —
    and a fresh manifest load sees the deletes too."""
    from queens_spark.store.vector_index import delete_from_vector_index

    idir = str(tmp_path / "vidx")
    cents = [r["vec_id"] for r in
             emb.where(F.col("vec_id") % 100 == 0)
             .select("vec_id").collect()]
    build_vector_index(emb, "embedding", "vec_id", "e", idir,
                       centroid_ids=cents)
    idx = load_vector_index(spark, idir, "e")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]]
    doomed = [r["vec_id"]
              for r in idx.adc_topk(qvec, k=4).collect()
              if r["vec_id"] != 7][:3]
    assert len(doomed) == 3
    idx = delete_from_vector_index(spark, idir, "e", ids=doomed)
    n = emb.count()
    searches = [
        idx.adc_topk(qvec, k=n),
        idx.ivfpq_topk(qvec, n_probe=len(cents), k=n),
        idx.two_stage_search(emb, "embedding", qvec, shortlist=n, k=n),
        idx.ivfpq_two_stage(emb, "embedding", qvec,
                            n_probe=len(cents), shortlist=n, k=n),
        idx.int8_topk([7], k=n),
        idx.batch_adc_topk(
            emb.where(F.col("vec_id") == 7).select(
                F.col("vec_id").alias("query_id"), "embedding"),
            k=n),
    ]
    for out in searches:
        got = {r["vec_id"] for r in out.collect()}
        assert not (set(doomed) & got), sorted(set(doomed) & got)
    fresh = load_vector_index(spark, idir, "e")
    assert fresh.describe()["tombstone_segments"] == 1
    assert not (set(doomed) & {
        r["vec_id"] for r in fresh.adc_topk(qvec, k=n).collect()
    })


def test_compact_applies_deletes_physically(spark, emb, tmp_path):
    """Compaction rewrites the artifacts WITHOUT the tombstoned rows
    (files shrink), drops the tombstone set, and restores the
    zero-join search plan; results are unchanged."""
    from queens_spark.store.vector_index import (
        compact_vector_index,
        delete_from_vector_index,
    )

    idir = str(tmp_path / "vidx")
    build_vector_index(emb, "embedding", "vec_id", "e", idir)
    doomed = [11, 22, 33]
    idx = delete_from_vector_index(spark, idir, "e", ids=doomed)
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]]
    before = [(r["vec_id"], r["adist"])
              for r in idx.adc_topk(qvec, k=10).collect()]
    plan_with_tombstones = plan_of(idx.adc_topk(qvec, k=10))
    assert "Join" in plan_with_tombstones  # anti-join while tombstoned
    idx2 = compact_vector_index(spark, idir, "e")
    assert idx2.entry["deletes_path"] is None
    # physical: the raw artifact (no reader-side anti-join) shrank
    import pyspark.sql.functions as _F
    raw = spark.read.parquet(idx2.entry["pq_codes_path"])
    assert raw.count() == emb.count() - len(doomed)
    assert raw.where(_F.col("vec_id").isin(doomed)).count() == 0
    after = [(r["vec_id"], r["adist"])
             for r in idx2.adc_topk(qvec, k=10).collect()]
    assert after == before
    assert "Join" not in plan_of(idx2.adc_topk(qvec, k=10))


def test_append_after_delete_serves_new_vector_only(spark, emb, tmp_path):
    """Re-appending a deleted id serves the NEW segment's vector
    exactly once — the coverage-scoped tombstone keeps hiding the old
    physical row; ids not re-appended stay deleted; deleting AFTER a
    re-append hides the new row too."""
    from queens_spark.store.vector_index import (
        append_vector_index,
        delete_from_vector_index,
    )

    idir = str(tmp_path / "vidx")
    build_vector_index(emb.where(F.col("vec_id") < 400),
                       "embedding", "vec_id", "e", idir)
    delete_from_vector_index(spark, idir, "e", ids=[5, 6])
    idx = append_vector_index(emb.where(F.col("vec_id") == 5), "e", idir)
    codes = idx.pq_codes().where(F.col("vec_id").isin([5, 6])).collect()
    assert [r["vec_id"] for r in codes] == [5]  # 5 back (once), 6 gone
    idx = append_vector_index(emb.where(F.col("vec_id") == 6), "e", idir)
    assert idx.pq_codes().count() == 400  # both back, nothing doubled
    # a delete issued after the re-append covers the new segment too
    idx = delete_from_vector_index(spark, idir, "e", ids=[5])
    assert idx.pq_codes().where(F.col("vec_id") == 5).count() == 0
    # compaction applies the net effect physically
    from queens_spark.store.vector_index import compact_vector_index

    idx = compact_vector_index(spark, idir, "e")
    raw = spark.read.parquet(idx.entry["pq_codes_path"])
    assert raw.count() == 399
    assert raw.where(F.col("vec_id") == 6).count() == 1


def test_delete_guards_and_predicate_mode(spark, emb, tmp_path):
    from queens_spark.store.vector_index import delete_from_vector_index

    idir = str(tmp_path / "vidx")
    build_vector_index(emb, "embedding", "vec_id", "e", idir,
                       meta_cols=["label"])
    with pytest.raises(ValueError, match="exactly one"):
        delete_from_vector_index(spark, idir, "e")
    with pytest.raises(ValueError, match="exactly one"):
        delete_from_vector_index(spark, idir, "e", ids=[1],
                                 predicate="label = 0")
    with pytest.raises(KeyError):
        delete_from_vector_index(spark, idir, "nope", ids=[1])
    # empty ids: no-op, no tombstone segment
    idx = delete_from_vector_index(spark, idir, "e", ids=[])
    assert idx.describe()["tombstone_segments"] == 0
    # predicate mode deletes by co-located metadata, no raw vectors
    n_lab0 = emb.where(F.col("label") == 0).count()
    idx = delete_from_vector_index(spark, idir, "e",
                                   predicate="label = 0")
    assert idx.pq_codes().count() == emb.count() - n_lab0
    assert idx.pq_codes().where(F.col("label") == 0).count() == 0


def test_delete_engine_and_cli_surfaces(spark, emb, tmp_path, capsys):
    import json as _json

    from queens_spark.cli import main
    from queens_spark.facade import Engine

    root = str(tmp_path / "wh")
    eng = Engine(spark, root)
    eng.build_vector_index(emb, "embedding", "vec_id", "e")
    idx = eng.delete_from_vector_index("e", ids=[1, 2])
    assert idx.describe()["tombstone_segments"] == 1
    rc = main(["--warehouse", root, "vindex", "delete", "e",
               "--ids", "3,4"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"deleted_from": "e", "tombstone_segments": 2}
    assert eng.vector_index("e").pq_codes().where(
        F.col("vec_id").isin([1, 2, 3, 4])).count() == 0
    # taxonomy: both selectors -> error exit
    rc = main(["--warehouse", root, "vindex", "delete", "e",
               "--ids", "1", "--where", "label = 0"])
    assert rc == 2


def test_trained_coarse_cells_fix_skew(spark, tmp_path):
    """The VERDICT-r8 skew scenario: seed centroids all drawn from one
    tight cluster leave most cells starved and one cell holding the
    rest of the corpus; Lloyd training migrates the centroids to the
    data, so cell_stats' max/median collapses toward balance while
    results stay a valid assignment (every vector in exactly one
    cell)."""
    import random

    from pyspark.sql import Row

    rng = random.Random(7)
    dim = 16
    # four well-separated clusters of 100 vectors; ids 0-3 (the seed
    # pick) all land in cluster 0 -> untrained cells are pathological
    centers = []
    for c in range(4):
        v = [0.05] * dim
        v[4 * c: 4 * c + 4] = [1.0, 0.9, 0.8, 0.7]
        centers.append(v)
    rows = []
    for i in range(400):
        base = centers[0] if i < 4 else centers[i % 4]
        rows.append(Row(
            vec_id=i,
            embedding=[x + rng.uniform(0, 0.02) for x in base],
        ))
    emb = spark.createDataFrame(rows)

    naive_dir = str(tmp_path / "naive")
    trained_dir = str(tmp_path / "trained")
    seeds = [0, 1, 2, 3]
    n_idx = build_vector_index(emb, "embedding", "vec_id", "e",
                               naive_dir, m=4, centroid_ids=seeds)
    t_idx = build_vector_index(emb, "embedding", "vec_id", "e",
                               trained_dir, m=4, centroid_ids=seeds,
                               coarse_iters=3)

    def max_med(idx):
        sizes = sorted(r["n_vectors"]
                       for r in idx.cell_stats().collect())
        total = sum(sizes)
        med = sizes[len(sizes) // 2]
        return total, max(sizes), max(sizes) / med

    n_total, n_max, n_ratio = max_med(n_idx)
    t_total, t_max, t_ratio = max_med(t_idx)
    assert n_total == t_total == 400  # valid assignment either way
    # untrained (deterministic seed): cells [20, 75, 112, 193] — the
    # hottest cell holds ~half the corpus; trained: [99, 99, 99, 103]
    assert n_max >= 180
    assert t_max <= 110
    assert t_ratio < n_ratio
    assert t_idx.describe()["coarse_iters"] == 3


def test_train_coarse_centroids_guards(spark, emb):
    from queens_spark.operators.similarity import train_coarse_centroids

    with pytest.raises(ValueError, match="iters"):
        train_coarse_centroids(emb, "embedding", "vec_id", [0, 200],
                               iters=0)
    with pytest.raises(ValueError, match=">= 2 centroid seeds"):
        train_coarse_centroids(emb, "embedding", "vec_id", [0], iters=1)
    with pytest.raises(ValueError, match="not both"):
        train_coarse_centroids(emb, "embedding", "vec_id", [0, 200],
                               centroids_pred=F.col("vec_id") < 2)


def test_train_coarse_centroids_zero_norm_guards(spark):
    """Zero-norm rows must RAISE, not silently land in cell 0 via NaN
    argmax (the serving paths already guard; training must too)."""
    from queens_spark.operators.similarity import train_coarse_centroids

    dim = 4
    rows = [(i, [float(i % 3 + 1)] * dim) for i in range(1, 20)]
    good = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    # a zero vector in the corpus (not a seed) -> assignment-pass guard
    corpus = good.union(
        spark.createDataFrame(
            [(99, [0.0] * dim)], "vec_id bigint, embedding array<double>"
        )
    )
    with pytest.raises(Exception, match="zero quantized norm"):
        train_coarse_centroids(corpus, "embedding", "vec_id", [1, 2],
                               iters=1)
    # a zero vector AS a seed -> driver-side seed guard
    with pytest.raises(ValueError, match="centroid seeds.*zero"):
        train_coarse_centroids(corpus, "embedding", "vec_id", [1, 99],
                               iters=1)


def test_retrain_coarse_quantizer_in_place(spark, tmp_path):
    """Retrain fixes the skew the audit found WITHOUT re-encoding:
    codes bytes identical before/after, ADC results unchanged,
    cell_stats rebalanced, IVF-PQ probe serves the same layout."""
    import random

    from pyspark.sql import Row

    from queens_spark.store.vector_index import (
        delete_from_vector_index,
        retrain_coarse_quantizer,
    )

    rng = random.Random(7)
    dim = 16
    centers = []
    for c in range(4):
        v = [0.05] * dim
        v[4 * c: 4 * c + 4] = [1.0, 0.9, 0.8, 0.7]
        centers.append(v)
    rows = [Row(vec_id=i,
                embedding=[x + rng.uniform(0, 0.02)
                           for x in (centers[0] if i < 4
                                     else centers[i % 4])])
            for i in range(400)]
    emb = spark.createDataFrame(rows)
    idir = str(tmp_path / "vidx")
    idx = build_vector_index(emb, "embedding", "vec_id", "e", idir,
                             m=4, centroid_ids=[0, 1, 2, 3])
    qvec = [float(x) for x in rows[42]["embedding"]]
    adc_before = [(r["vec_id"], r["adist"])
                  for r in idx.adc_topk(qvec, k=10).collect()]
    codes_before = {r["vec_id"]: r["pq_code"]
                    for r in idx.pq_codes().collect()}
    skew_before = max(r["n_vectors"]
                      for r in idx.cell_stats().collect())

    idx2 = retrain_coarse_quantizer(emb, "e", idir, coarse_iters=3)
    assert max(r["n_vectors"]
               for r in idx2.cell_stats().collect()) < skew_before
    # codes untouched, ADC identical
    assert {r["vec_id"]: r["pq_code"]
            for r in idx2.pq_codes().collect()} == codes_before
    assert [(r["vec_id"], r["adist"])
            for r in idx2.adc_topk(qvec, k=10).collect()] == adc_before
    # probe still one pruned co-located scan, fresh handle agrees
    fresh = load_vector_index(spark, idir, "e")
    out = fresh.ivfpq_topk(qvec, n_probe=1, k=5)
    plan = plan_of(out)
    assert "PartitionFilters" in plan and "Join" not in plan
    assert out.count() == 5
    # guards: tombstoned index must compact first
    delete_from_vector_index(spark, idir, "e", ids=[5])
    with pytest.raises(ValueError, match="compact"):
        retrain_coarse_quantizer(emb, "e", idir)


def test_rebalance_if_skewed(spark, tmp_path):
    """The audit->fix loop: a balanced index is left alone; a skewed
    one retrains in place (codes untouched) and a second call is then
    a no-op."""
    import random

    from pyspark.sql import Row

    from queens_spark.store.vector_index import rebalance_if_skewed

    rng = random.Random(7)
    dim = 16
    centers = []
    for c in range(4):
        v = [0.05] * dim
        v[4 * c: 4 * c + 4] = [1.0, 0.9, 0.8, 0.7]
        centers.append(v)
    rows = [Row(vec_id=i,
                embedding=[x + rng.uniform(0, 0.02)
                           for x in (centers[0] if i < 4
                                     else centers[i % 4])])
            for i in range(400)]
    emb = spark.createDataFrame(rows)
    idir = str(tmp_path / "vidx")
    build_vector_index(emb, "embedding", "vec_id", "e", idir,
                       m=4, centroid_ids=[0, 1, 2, 3])
    codes_before = {r["vec_id"]: r["pq_code"] for r in
                    load_vector_index(spark, idir, "e")
                    .pq_codes().collect()}
    # untrained cells [20, 75, 112, 193]: 193 > 1.5 * 112 -> retrain
    idx, did = rebalance_if_skewed(emb, "e", idir,
                                   max_over_median=1.5,
                                   coarse_iters=3)
    assert did
    sizes = sorted(r["n_vectors"] for r in idx.cell_stats().collect())
    assert sizes[-1] <= 1.5 * sizes[len(sizes) // 2]
    assert {r["vec_id"]: r["pq_code"]
            for r in idx.pq_codes().collect()} == codes_before
    # balanced now: second call is a no-op (same version)
    v = idx.entry["version"]
    idx2, did2 = rebalance_if_skewed(emb, "e", idir,
                                     max_over_median=1.5)
    assert not did2 and idx2.entry["version"] == v


def test_cli_vindex_stats(spark, emb, tmp_path, capsys):
    """`vindex stats` — the cell-balance audit from the shell (the
    lexical twin is `tindex stats`): the numbers rebalance_if_skewed
    gates on, without writing anything."""
    import json

    from queens_spark.cli import main
    from queens_spark.facade import Engine

    root = str(tmp_path / "wh")
    eng = Engine(spark, root)
    eng.build_vector_index(
        emb, "embedding", "vec_id", "e",
        centroid_ids=[0, 100, 200, 300],
    )
    rc = main(["--warehouse", root, "vindex", "stats", "e"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["cells"] == 4
    assert out["max_cell_vectors"] >= out["median_cell_vectors"] >= 1
    assert out["max_over_median"] >= 1
