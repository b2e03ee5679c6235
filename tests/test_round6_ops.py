"""Round-6 additions: persisted IVF-PQ index build/serve split."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_project_implementation_spark.operators import similarity as sim
from big_data_project_implementation_spark.sources.catalog import load_table
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_ivfpq_serve_matches_inline_exactly(spark, tmp_path):
    """build_ann_index + ivfpq_topk_from_index must reproduce the
    inline ivfpq_topk result row-for-row: same training code, same
    hyper-parameters, and the serve half is literally the same
    function — so the persisted index is a pure plan split, not an
    approximation of an approximation."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    inline = sim.ivfpq_topk(qs, emb, k=5, nprobe=4, m=8, n_codes=32, refine=16)
    idx = str(tmp_path / "idx")
    sim.build_ann_index(emb, idx, n_cells=16, m=8, n_codes=32)
    served = sim.ivfpq_topk_from_index(qs, emb, idx, k=5, nprobe=4, refine=16)
    assert _rows(served) == _rows(inline)


def test_ivfpq_serve_plan_is_training_free(spark, tmp_path):
    """The serve plan must contain no training machinery. The inline
    path trains at query-build time (eager localCheckpoints — its plan
    carries ExistingRDD scans of the just-trained model and pays Lloyd
    wall-time on every call); the persisted-index plan reads the three
    parquet model tables only: every scan is a FileScan, no checkpoint
    RDD anywhere, single-digit shuffle count."""
    from big_data_project_implementation_spark import plans

    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "idx")
    sim.build_ann_index(emb, idx, n_cells=16, m=8, n_codes=32)
    served = sim.ivfpq_topk_from_index(qs, emb, idx, k=5, nprobe=4, refine=16)
    n = plans.count_shuffles(served)
    assert n <= 10, f"serve plan has {n} shuffles"
    sp = plans.physical_plan(served)
    assert "ExistingRDD" not in sp  # no checkpointed training residue
    assert "codes" in sp  # reads the persisted inverted lists
    inline = sim.ivfpq_topk(qs, emb, k=5, nprobe=4, m=8, n_codes=32, refine=16)
    assert "ExistingRDD" in plans.physical_plan(inline)  # the contrast
    # the billion-vector property: the probe prunes the inverted-list
    # scan ON DISK — dynamic partition pruning on the cell key, so a
    # query reads nprobe/n_cells of the code lists, not all of them
    assert "dynamicpruningexpression(cell" in plans.formatted_plan(served)


def test_ann_index_layout_is_cell_partitioned(spark, tmp_path):
    import os

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "idx")
    sim.build_ann_index(emb, idx, n_cells=8, m=4, n_codes=16)
    cells = [d for d in os.listdir(os.path.join(idx, "codes")) if d.startswith("cell=")]
    assert 1 <= len(cells) <= 8  # hive layout, one dir per populated cell
    cents, books, manifest = sim.read_ann_model(idx, spark)
    assert books.count() <= 4 * 16
    # the model shape is self-describing metadata in the manifest
    assert (manifest["m"], manifest["n_cells"], manifest["n_codes"]) == (4, 8, 16)
    assert books.agg(F.max("sub")).first()[0] + 1 == 4
    assert cents.count() <= 8
    # every corpus vector has exactly one code row
    codes = spark.read.parquet(os.path.join(idx, "codes"))
    assert codes.count() == emb.count()
    assert codes.select("neighbor_id").distinct().count() == emb.count()


def test_serve_request_build_runs_no_jobs(spark):
    """Building an ivfpq_topk_from_index request is plan construction
    only: the model shape and the table schemas come from the index's
    _ANN_MANIFEST, so no Spark job runs before the caller's action."""
    from big_data_project_implementation_spark.queries.pipeline_q import (
        _ann_index_cached,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = _ann_index_cached(emb, SF_DIR)
    qs = emb.filter(F.col("vec_id") < 5)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    sim.ivfpq_topk_from_index(qs, emb, path, k=5, nprobe=4)
    assert set(tracker.getJobIdsForGroup()) == before


def test_zero_norm_vectors_score_null_and_route_lowest(spark):
    """With ANSI on (the session default) a zero-norm vector or centroid
    scores NULL instead of failing the job with DIVIDE_BY_ZERO. NULL
    ranks lowest in routing: a nonzero vector never routes to a zero
    centroid, and a zero vector routes to the lowest cell."""
    cents = spark.createDataFrame(
        [(0, [0, 0, 0, 0]), (1, [1_000_000, 0, 0, 0])],
        "cell int, centroid array<bigint>",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    routed = sim._route_nearest_cell(vecs, cents, "embedding").collect()
    assert {r.vec_id: r.cell for r in routed} == {1: 1, 2: 0}
    scores = vecs.crossJoin(cents).select(
        "vec_id",
        "cell",
        sim.cosine_q("embedding", "centroid").alias("q"),
        sim.cosine("embedding", "embedding").alias("f"),
    )
    got = {(r.vec_id, r.cell): (r.q, r.f) for r in scores.collect()}
    assert got == {
        (1, 0): (None, 1.0),
        (1, 1): (1.0, 1.0),
        (2, 0): (None, None),
        (2, 1): (None, None),
    }


def test_curate_identity_stages_share_tokenizer(spark):
    """Round-6 tokenization contract (VERDICT r5 #9): the curate
    pipeline's identity-bearing stages (dedup-prefix fingerprint,
    decontamination shingles) tokenize through ONE function
    (dedup.norm_tokens) — on whitespace-adversarial text the prefix
    key equals the first-5 shingle tokens exactly, where the old
    hand-rolled single-space split diverged on tabs/runs."""
    from pyspark.sql import functions as F

    from big_data_project_implementation_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, "A\tB  C\nD E F G"), (1, " x  y\tz ")], "doc_id long, text string"
    )
    both = df.select(
        F.array_join(F.slice(dedup.norm_tokens("text"), 1, 5), " ").alias("pref"),
        F.array_join(F.slice(F.split(dedup._norm(F.col("text")), " "), 1, 5), " ")
        .alias("shingle_first5"),
        F.array_join(
            F.slice(F.split(F.lower(F.trim(F.col("text"))), " "), 1, 5), " "
        ).alias("old_form"),
    ).collect()
    for r in both:
        assert r.pref == r.shingle_first5  # unified
    # and the adversarial doc is exactly where the old form diverged
    assert both[0].pref != both[0].old_form
    assert both[0].pref == "a b c d e"


# ---------------------------------------------------------------------------
# md5-certified minhash / simhash variants (round 6): the hash family is
# engine-portable, so a pure-Python recompute is a THIRD independent
# implementation (alongside Spark and the DuckDB oracle) pinning the
# banding arithmetic and agreement/Hamming filters.


def _md5long_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingles_py(txt: str, k: int) -> set[str]:
    import re

    toks = re.sub(r"\s+", " ", txt.strip().lower()).split(" ")
    if len(toks) >= k:
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    return {" ".join(toks)}  # Spark shingles() clamp: short docs emit one


_CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (3, "an entirely different document about spark engines"),
    (4, "an entirely different document about spark engines and scale"),
    (5, "short doc"),
    (6, ""),
    (7, "the quick brown fox jumps over the lazy dog today"),
]


def test_minhash_md5_pairs_match_python_recompute(spark):
    from big_data_project_implementation_spark.operators import dedup

    k, num_hashes, bands, min_agree = 3, 8, 4, 6
    rows_per_band = num_hashes // bands
    sig = {}
    for doc_id, txt in _CORPUS:
        sh = _shingles_py(txt, k)
        if sh:
            sig[doc_id] = [
                min(_md5long_py(f"mh{i}:{s}") for s in sh)
                for i in range(num_hashes)
            ]
    buckets: dict[tuple, list] = {}
    for i, s in sig.items():
        for b in range(bands):
            key = (b, tuple(s[b * rows_per_band : (b + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(i)
    expected = set()
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b:
                    n = sum(x == y for x, y in zip(sig[a], sig[b]))
                    if n >= min_agree:
                        expected.add((a, b, n))
    df = spark.createDataFrame(_CORPUS, "doc_id long, text string")
    got = {
        tuple(r)
        for r in dedup.minhash_md5_pairs(
            df, k=k, num_hashes=num_hashes, bands=bands, min_agree=min_agree
        ).collect()
    }
    assert got == expected
    assert (0, 2, num_hashes) in got  # exact dups agree everywhere


def test_simhash_md5_pairs_match_bruteforce_hamming(spark):
    """blocks > max_hamming ⇒ block banding is lossless (pigeonhole),
    so the operator must equal the ALL-PAIRS Hamming-ball recompute —
    completeness, not just soundness."""
    from big_data_project_implementation_spark.operators import dedup

    k, bits, blocks, max_hamming = 3, 16, 4, 2
    fp = {}
    for doc_id, txt in _CORPUS:
        sh = _shingles_py(txt, k)
        if not sh:
            continue
        f = 0
        for j in range(bits):
            votes = sum(
                1 if (_md5long_py(f"sh:{s}") >> j) & 1 else -1 for s in sh
            )
            if votes > 0:
                f |= 1 << j
        fp[doc_id] = f
    expected = {
        (a, b, bin(fp[a] ^ fp[b]).count("1"))
        for a in fp
        for b in fp
        if a < b and bin(fp[a] ^ fp[b]).count("1") <= max_hamming
    }
    df = spark.createDataFrame(_CORPUS, "doc_id long, text string")
    got = {
        tuple(r)
        for r in dedup.simhash_md5_pairs(
            df, k=k, bits=bits, blocks=blocks, max_hamming=max_hamming
        ).collect()
    }
    assert got == expected
    assert (0, 2, 0) in got  # exact dups at Hamming 0


def test_bloom_probe_membership_and_one_sided_error(spark):
    """True members are ALWAYS found (no false negatives — the Bloom
    guarantee the decontamination query relies on); non-members may
    false-positive but at 3 hashes / 8192 bits over 50 items the
    probability any of 200 probes collides on all 3 is ~0."""
    from big_data_project_implementation_spark.operators import sketch

    items = spark.createDataFrame(
        [(f"gram-{i}",) for i in range(50)], "gram string"
    )
    bloom = sketch.bloom_build(items, "gram", n_bits=8192, n_hashes=3)
    probes = spark.createDataFrame(
        [(f"gram-{i}",) for i in range(250)], "gram string"
    )
    got = {
        r.item: r.bloom_member
        for r in sketch.bloom_probe(
            bloom, probes, "gram", n_bits=8192, n_hashes=3
        ).collect()
    }
    assert all(got[f"gram-{i}"] for i in range(50))  # no false negatives
    fp = sum(got[f"gram-{i}"] for i in range(50, 250))
    assert fp <= 2  # load factor 150/8192 → per-probe FP ~6e-6


def test_bloom_decontaminate_is_superset_of_exact(spark):
    """The bloom query's flags must contain every exactly-contaminated
    doc with n_bloom_hit >= the exact n_hit — over-flagging is the
    only permitted direction."""
    from big_data_project_implementation_spark.queries.pipeline_q import (
        text_bloom_decontaminate,
        text_decontaminate,
    )

    exact = {
        r.doc_id: (r.n_hit, r.contaminated)
        for r in text_decontaminate(spark, SF_DIR).collect()
    }
    bloom = {
        r.doc_id: (r.n_bloom_hit, r.flagged)
        for r in text_bloom_decontaminate(spark, SF_DIR).collect()
    }
    assert set(exact) == set(bloom)
    for doc_id, (n_hit, contaminated) in exact.items():
        n_bloom, flagged = bloom[doc_id]
        assert n_bloom >= n_hit
        if contaminated:
            assert flagged


def test_leakage_safe_split_never_straddles(spark):
    """Exact duplicates (distinct ids, same normalized text) must land
    in the same split; id-keyed hash_split demonstrably scatters them
    — that contrast IS the operator's reason to exist."""
    from big_data_project_implementation_spark.operators import text as t_ops

    rows = [(i, f"unique doc {i}") for i in range(40)]
    rows += [(100 + i, "  The SAME\t\tdocument  ") for i in range(10)]
    rows += [(200 + i, "the same document") for i in range(10)]  # normalizes equal
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = t_ops.leakage_safe_split(df).collect()
    by_fp: dict[str, set] = {}
    for r in out:
        by_fp.setdefault(r.content_fp, set()).add(r.split)
    assert all(len(s) == 1 for s in by_fp.values())  # no straddle
    dup_splits = {r.split for r in out if r.doc_id >= 100}
    assert len(dup_splits) == 1  # all 20 dup docs together
    id_splits = {
        r.split
        for r in df.filter(F.col("doc_id") >= 100)
        .select(t_ops.hash_split("doc_id").alias("split"))
        .collect()
    }
    assert len(id_splits) > 1  # id-keyed split scatters the same docs


def test_cluster_keyed_split_composition(spark):
    """The near-dup variant: key the split on the dedup-cluster
    survivor id — every member of a connected near-dup cluster shares
    a split even when their texts differ."""
    from big_data_project_implementation_spark.operators import dedup
    from big_data_project_implementation_spark.operators import text as t_ops

    # 3 clusters via an explicit pair list: {1,2,3}, {10,11}, {20}
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = dedup.connected_components(pairs)
    assigned = (
        docs.join(comp, docs.doc_id == comp.id, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_rep"),
        )
        .withColumn("split", t_ops.hash_split("cluster_rep"))
    )
    got = {r.doc_id: (r.cluster_rep, r.split) for r in assigned.collect()}
    assert got[1][1] == got[2][1] == got[3][1]
    assert got[10][1] == got[11][1]
    assert got[1][0] == 1 and got[10][0] == 10 and got[20][0] == 20


def test_md5_certified_ops_drop_null_text(spark):
    """NULL-text docs produce no shingles on the Spark side (explode
    of a null array); the certified oracles filter `text IS NOT NULL`
    so both engines agree by construction — this pins the Spark half
    of that contract on a fixture the parquet tables don't have."""
    from big_data_project_implementation_spark.operators import dedup

    rows = [(0, "a b c d"), (1, "a b c d"), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = dedup.minhash_md5_pairs(df, num_hashes=8, bands=4, min_agree=6).collect()
    assert {(r.id_a, r.id_b) for r in mh} == {(0, 1)}
    sh = dedup.simhash_md5_pairs(df, bits=16, blocks=4, max_hamming=2).collect()
    assert {(r.id_a, r.id_b) for r in sh} == {(0, 1)}
