"""Training-data-pipeline queries: dedup, similarity search, text
analysis, multimodal plumbing (the beyond-reference operator set).

Exact variants carry DuckDB oracles; approximate variants (MinHash LSH,
SimHash, hyperplane-LSH ANN) are registered rows-only and their
recall/containment properties are asserted against the exact variants
in tests/test_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_project_implementation_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
)
from big_data_project_implementation_spark.queries.registry import query, t


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]')) AS BIGINT)
               AS n_bpe_tokens,
           ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                 / GREATEST(length(text), 1), 6) AS punct_ratio,
           ROUND(1.0 - len(list_distinct(string_split(text, ' ')))
                 / GREATEST(len(string_split(text, ' ')), 1), 6) AS repetition_ratio,
           ROUND(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
                 / GREATEST(len(string_split(text, ' ')), 1), 6) AS mean_token_len
    FROM documents
    ORDER BY doc_id
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and quality-signal
    ratios — expression-only, scan-throughput text analysis."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.bpe_token_count("text").alias("n_bpe_tokens"),
        F.round(text.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(text.repetition_ratio("text"), 6).alias("repetition_ratio"),
        F.round(text.mean_token_len("text"), 6).alias("mean_token_len"),
    ).orderBy("doc_id")


_LANGS = ("de", "en", "es", "fr", "zh")


def _duckdb_lang_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.STOPWORD_PROFILES[lang])
    return (
        f"CAST(len(list_filter(string_split(lower(text), ' '), "
        f"w -> w IN ({words}))) AS BIGINT)"
    )


@query(
    "text_language_id",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, lang AS lang_actual,
             {_duckdb_lang_hits('de')} AS hits_de,
             {_duckdb_lang_hits('en')} AS hits_en,
             {_duckdb_lang_hits('es')} AS hits_es,
             {_duckdb_lang_hits('fr')} AS hits_fr,
             {_duckdb_lang_hits('zh')} AS hits_zh
      FROM documents
    )
    SELECT doc_id, lang_actual, hits_de, hits_en, hits_es, hits_fr, hits_zh,
           CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) = 0 THEN 'und'
                WHEN hits_zh = GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'zh'
                WHEN hits_fr = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'fr'
                WHEN hits_es = GREATEST(hits_de, hits_en, hits_es) THEN 'es'
                WHEN hits_en = GREATEST(hits_de, hits_en) THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM hits
    ORDER BY doc_id
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram heuristic): per-language hit
    counts + argmax prediction, all JVM-side expressions."""
    d = t(spark, sf_dir, "documents")
    toks = text.tokens(F.lower(F.col("text")))
    hit_cols = {
        lang: text.stopword_hits(toks, text.STOPWORD_PROFILES[lang])
        .cast("bigint")
        .alias(f"hits_{lang}")
        for lang in _LANGS
    }
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        *hit_cols.values(),
        text.detect_language("text").alias("lang_pred"),
    ).orderBy("doc_id")


@query(
    "dedup_exact_prefix",
    oracle="""
    SELECT MIN(doc_id) AS doc_id
    FROM documents
    GROUP BY array_to_string(string_split(lower(trim(text)), ' ')[1:5], ' ')
    ORDER BY doc_id
    """,
)
def dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy on normalized key, min-id survivor —
    operators.dedup.exact_dedup). Keyed on the 5-word prefix so the
    fixture corpus actually contains collisions."""
    d = t(spark, sf_dir, "documents").withColumn(
        "prefix",
        F.array_join(F.slice(F.split(F.lower(F.trim(F.col("text"))), " "), 1, 5), " "),
    )
    return (
        dedup.exact_dedup(d, text_col="prefix", id_col="doc_id")
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "dedup_word_jaccard",
    oracle="""
    WITH w AS (
      SELECT doc_id AS id, list_distinct(string_split(lower(trim(text)), ' ')) AS ws
      FROM documents
    ),
    posts AS (SELECT id, len(ws) AS n, UNNEST(ws) AS word FROM w),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
             COUNT(*) AS n_common
      FROM posts a JOIN posts b ON a.word = b.word AND a.id < b.id
      GROUP BY a.id, b.id, a.n, b.n
    )
    SELECT id_a, id_b,
           ROUND(n_common / (n_a + n_b - n_common), 6) AS jaccard
    FROM inter
    WHERE n_common / (n_a + n_b - n_common) >= 0.8
    ORDER BY id_a, id_b
    """,
)
def dedup_word_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (k=1) Jaccard near-dup pairs via shingle postings
    self-join (operators.dedup.ngram_jaccard_pairs) — the correctness
    oracle for MinHash/SimHash."""
    d = t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, text_col="text", id_col="doc_id", k=1, threshold=0.8
    ).orderBy("id_a", "id_b")


def _duckdb_star_round(i: int) -> str:
    """One large-star + small-star contraction round as DuckDB CTEs.

    MATERIALIZED is load-bearing: DuckDB 1.0 otherwise INLINES each CTE
    into every use site, so unrolled round r would re-expand the whole
    jaccard-pairs subtree 2^r times (thousands of parquet re-scans)."""
    p = f"e{i - 1}"
    return f"""
    sym{i} AS MATERIALIZED (
      SELECT big AS u, small AS v FROM {p} UNION ALL SELECT small, big FROM {p}),
    mins{i} AS MATERIALIZED (
      SELECT u, LEAST(MIN(v), u) AS m FROM sym{i} GROUP BY u),
    large{i} AS MATERIALIZED (
      SELECT DISTINCT s.v AS big, m.m AS small
      FROM sym{i} s JOIN mins{i} m USING (u)
      WHERE s.v > s.u AND s.v <> m.m
    ),
    mins2_{i} AS MATERIALIZED (SELECT big, MIN(small) AS m FROM large{i} GROUP BY big),
    e{i} AS MATERIALIZED (
      SELECT DISTINCT node AS big, m AS small FROM (
        SELECT x.small AS node, m2.m FROM large{i} x JOIN mins2_{i} m2 USING (big)
        UNION ALL
        SELECT big, m FROM mins2_{i}
      ) WHERE node <> m
    )"""


#: Unrolled star-contraction depth for the dedup_clusters oracle. The
#: algorithm converges in O(log n) rounds (3 observed at sf0.01 AND
#: sf0.1); 8 is double margin. An extra probe round feeds the
#: not_converged poison row, so insufficient depth breaks the row-count
#: match LOUDLY instead of silently certifying a wrong closure.
_STAR_ROUNDS = 8


def _dedup_clusters_oracle(rounds: int = _STAR_ROUNDS) -> str:
    """DuckDB oracle for dedup_clusters: jaccard pairs (threshold 0.8)
    then ``rounds`` unrolled large-star/small-star contractions — the
    same O(edges · log n) algorithm the Spark operator runs, instead of
    a ``WITH RECURSIVE`` reachability closure whose O(Σ component²) row
    blowup takes >20 min at sf0.1 (SCALING.md). Equivalence against the
    recursive-closure form is pinned in tests/test_queries_oracle.py."""
    body = ",".join(_duckdb_star_round(i) for i in range(1, rounds + 2))
    return f"""
    WITH
    w AS MATERIALIZED (
      SELECT doc_id AS id, list_distinct(string_split(lower(trim(text)), ' ')) AS ws
      FROM documents
    ),
    posts AS MATERIALIZED (SELECT id, len(ws) AS n, UNNEST(ws) AS word FROM w),
    inter AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b, COUNT(*) AS n_common
      FROM posts a JOIN posts b ON a.word = b.word AND a.id < b.id
      GROUP BY a.id, b.id, a.n, b.n
    ),
    e0 AS MATERIALIZED (
      SELECT GREATEST(id_a, id_b) AS big, LEAST(id_a, id_b) AS small FROM inter
      WHERE n_common / (n_a + n_b - n_common) >= 0.8
    ),{body},
    not_converged AS MATERIALIZED (
      SELECT (SELECT COUNT(*) FROM
                (SELECT * FROM e{rounds + 1} EXCEPT SELECT * FROM e{rounds})) +
             (SELECT COUNT(*) FROM
                (SELECT * FROM e{rounds} EXCEPT SELECT * FROM e{rounds + 1})) AS delta
    ),
    labels AS MATERIALIZED (
      SELECT big AS id, small AS comp FROM e{rounds}
      UNION
      SELECT small, small FROM e{rounds}
    )
    SELECT w.id AS doc_id,
           CAST(COALESCE(l.comp, w.id) AS BIGINT) AS component,
           COALESCE(l.comp, w.id) = w.id AS is_survivor
    FROM w LEFT JOIN labels l ON w.id = l.id
    UNION ALL
    SELECT -1, -1, FALSE FROM not_converged WHERE delta > 0
    ORDER BY doc_id
    """


#: Recursive-closure reference form of the same oracle — exact at any
#: depth but O(Σ component²): kept for the equivalence pytest, NOT used
#: as the registered oracle (>20 min at sf0.1 vs 21 s unrolled).
DEDUP_CLUSTERS_CLOSURE_SQL = """
    WITH RECURSIVE
    w AS (
      SELECT doc_id AS id, list_distinct(string_split(lower(trim(text)), ' ')) AS ws
      FROM documents
    ),
    posts AS (SELECT id, len(ws) AS n, UNNEST(ws) AS word FROM w),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b, COUNT(*) AS n_common
      FROM posts a JOIN posts b ON a.word = b.word AND a.id < b.id
      GROUP BY a.id, b.id, a.n, b.n
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      WHERE n_common / (n_a + n_b - n_common) >= 0.8
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    cc AS (
      SELECT id, id AS comp FROM w
      UNION
      SELECT e.v AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.u
    )
    SELECT id AS doc_id, CAST(MIN(comp) AS BIGINT) AS component,
           MIN(comp) = id AS is_survivor
    FROM cc GROUP BY id ORDER BY doc_id
    """


@query("dedup_clusters", oracle=_dedup_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clustering, end to end: exact word-Jaccard
    pairs (threshold 0.8) -> connected components (alternating
    large-star/small-star, operators.dedup.connected_components) ->
    every doc labeled with its cluster's min-id survivor. The DuckDB
    oracle recomputes the closure with a recursive CTE, so both the
    pair generation and the clustering are hash-certified."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, text_col="text", id_col="doc_id", k=1, threshold=0.8
    )
    return (
        dedup.assign_dedup_clusters(d, pairs, id_col="doc_id")
        .select("doc_id", "component", "is_survivor")
        .orderBy("doc_id")
    )


@query("dedup_clusters_lsh")  # approximate pairs → rows-only
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup composition at 100 TB: MinHash-LSH spanning
    edges (mode="star" — O(family), round 7) -> star-contraction
    connected components -> per-doc survivor assignment. Same
    clustering operator as dedup_clusters but fed from the approximate
    path, so the whole pipeline scales; rows-only (LSH pairs have no
    exact oracle), clustering itself is oracle-certified via
    dedup_clusters and topology pytests. Round-7 finding: the 100×
    probe corpus (dup families ~100× larger) produced 749M VERIFIED
    pairs under mode="pairs" — all-pairs family enumeration is
    output-size quadratic by nature and OOM'd the closure; the
    clustering consumer only needs connectivity, so it now takes the
    verified spanning set (same components wherever hub edges pass
    the verify; sf0.1 cluster recall floor pinned in pytest)."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, text_col="text", id_col="doc_id", k=1, num_hashes=32, bands=8,
        threshold=0.7, mode="star",
    )
    return (
        dedup.assign_dedup_clusters(d, pairs, id_col="doc_id")
        .select("doc_id", "component", "is_survivor")
        .orderBy("doc_id")
    )


@query("dedup_minhash_lsh")  # approximate → rows-only; recall tested in pytest
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (shingle→minhash→band→bucket-join
    — operators.dedup.minhash_lsh_pairs). The 100 TB dedup path: only
    band-bucket collisions are joined.

    Threshold mirrors the exact ``dedup_word_jaccard`` oracle (0.8) —
    LSH approximates that query, so a looser cut would just re-admit
    the near-threshold impostor flood the banding exists to avoid. No
    orderBy: pair output feeds clustering (order-free), and the driver
    check is rows-only — a global sort of the pair set would be the
    single most expensive node in the plan at any scale."""
    d = t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, text_col="text", id_col="doc_id", k=1, num_hashes=32, bands=8,
        threshold=0.8,
    )


def _minhash_sig_ctes(k=3, num_hashes=8, bands=4) -> str:
    """CTE block (no WITH) ending in ``sig(id, h0..hN)`` and
    ``bnd(id, b, key)`` — the md5-family MinHash signature + banding
    pipeline shared by the pair oracles and the streaming verdict
    oracle (which collapses the corpus side by signature instead of
    enumerating pairs). The shingle CASE mirrors Spark's `shingles`
    clamp: docs shorter than k emit one whole-doc shingle, never
    zero."""
    rows_per_band = num_hashes // bands
    h = lambda i, s: (  # noqa: E731
        f"CAST(('0x' || substr(md5('mh{i}:' || {s}), 1, 15)) AS BIGINT)"
    )
    sig_cols = ",\n         ".join(
        f"MIN({h(i, 's')}) AS h{i}" for i in range(num_hashes)
    )
    band_cases = "\n           ".join(
        f"WHEN {b} THEN "
        + " || ',' || ".join(
            f"h{b * rows_per_band + j}" for j in range(rows_per_band)
        )
        for b in range(bands - 1)
    )
    last_band = " || ',' || ".join(
        f"h{(bands - 1) * rows_per_band + j}" for j in range(rows_per_band)
    )
    return f"""
    w AS MATERIALIZED (
      SELECT doc_id AS id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          ' ') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT id, s FROM (
        SELECT id,
               UNNEST(CASE WHEN len(ws) >= {k}
                      THEN list_transform(range(1, len(ws) - {k} + 2),
                                          i -> array_to_string(ws[i:i+{k - 1}],
                                                               ' '))
                      ELSE [array_to_string(ws, ' ')] END) AS s
        FROM w
      )
    ),
    sig AS MATERIALIZED (
      SELECT id,
         {sig_cols}
      FROM sh GROUP BY id
    ),
    bnd AS MATERIALIZED (
      SELECT id, u.b,
             CASE u.b
           {band_cases}
           ELSE {last_band}
         END AS key
      FROM sig, unnest([{", ".join(str(b) for b in range(bands))}]) u(b)
    )"""


def _minhash_pair_ctes(k=3, num_hashes=8, bands=4, min_agree=6) -> str:
    """CTE block (no WITH) ending in ``mhp(id_a, id_b, n_agree)`` — the
    md5-family MinHash pair pipeline (_minhash_sig_ctes + symmetric
    candidate join + agreement verify), shared by the pair-level oracle
    (_minhash_md5_oracle) and the LSH→clusters composition oracle."""
    agree = " + ".join(
        f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(num_hashes)
    )
    return f"""{_minhash_sig_ctes(k, num_hashes, bands)},
    cand AS MATERIALIZED (
      SELECT DISTINCT x.id AS id_a, y.id AS id_b
      FROM bnd x JOIN bnd y ON x.b = y.b AND x.key = y.key AND x.id < y.id
    ),
    mhp AS MATERIALIZED (
      SELECT c.id_a, c.id_b, CAST({agree} AS BIGINT) AS n_agree
      FROM cand c JOIN sig a ON a.id = c.id_a JOIN sig b ON b.id = c.id_b
      WHERE {agree} >= {min_agree}
    )"""


def _minhash_md5_oracle(k=3, num_hashes=8, bands=4, min_agree=6) -> str:
    """DuckDB replay of dedup.minhash_md5_pairs (see _minhash_pair_ctes)."""
    return (
        "\n    WITH"
        + _minhash_pair_ctes(k, num_hashes, bands, min_agree)
        + """
    SELECT id_a, id_b, n_agree FROM mhp ORDER BY id_a, id_b"""
    )


def _clusters_lsh_certified_oracle(rounds: int = _STAR_ROUNDS) -> str:
    """The LSH→clusters COMPOSITION oracle: md5-family MinHash pairs
    (_minhash_pair_ctes) feed the same unrolled large-star/small-star
    contraction as _dedup_clusters_oracle, poison round included — so
    the production shape (approximate pairs → transitive closure →
    survivor assignment) certifies end to end, not just per stage."""
    body = ",".join(_duckdb_star_round(i) for i in range(1, rounds + 2))
    return f"""
    WITH{_minhash_pair_ctes(3, 8, 4, 6)},
    e0 AS MATERIALIZED (
      SELECT GREATEST(id_a, id_b) AS big, LEAST(id_a, id_b) AS small FROM mhp
    ),{body},
    not_converged AS MATERIALIZED (
      SELECT (SELECT COUNT(*) FROM
                (SELECT * FROM e{rounds + 1} EXCEPT SELECT * FROM e{rounds})) +
             (SELECT COUNT(*) FROM
                (SELECT * FROM e{rounds} EXCEPT SELECT * FROM e{rounds + 1})) AS delta
    ),
    labels AS MATERIALIZED (
      SELECT big AS id, small AS comp FROM e{rounds}
      UNION
      SELECT small, small FROM e{rounds}
    )
    SELECT w.id AS doc_id,
           CAST(COALESCE(l.comp, w.id) AS BIGINT) AS component,
           COALESCE(l.comp, w.id) = w.id AS is_survivor
    FROM w LEFT JOIN labels l ON w.id = l.id
    UNION ALL
    SELECT -1, -1, FALSE FROM not_converged WHERE delta > 0"""


@query("dedup_clusters_certified", oracle=_clusters_lsh_certified_oracle())
def dedup_clusters_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup composition with a hash-match oracle:
    certified MinHash banding pairs (md5 family) → star-contraction
    connected components → per-doc survivor assignment. dedup_clusters
    certifies clustering over EXACT pairs and dedup_clusters_lsh runs
    the xxhash64 production pairs rows-only; this closes the gap —
    the approximate-pairs→closure→survivor COMPOSITION itself
    hash-matches, poison round guarding oracle depth."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pairs = dedup.minhash_md5_pairs(
        d, k=3, num_hashes=8, bands=4, min_agree=6
    )
    return (
        dedup.assign_dedup_clusters(d, pairs, id_col="doc_id")
        .select("doc_id", "component", "is_survivor")
        .orderBy("doc_id")
    )


@query("dedup_minhash_certified", oracle=_minhash_md5_oracle(3, 8, 4, 6))
def dedup_minhash_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding with a hash-match oracle
    (operators.dedup.minhash_md5_pairs, round 6): the same
    shingle→minhash→band→bucket-join→agreement-verify pipeline as the
    production `dedup_minhash_lsh`, over an md5-derived hash family the
    DuckDB oracle replays stage-for-stage. Certifies the banding
    arithmetic, candidate-join dedup, and agreement count that the
    rows-only recall floor cannot pin; `dedup_minhash_lsh` (xxhash64 +
    flood caps) remains the 100 TB path and keeps its recall/soundness
    pytest + sf0.1 floor."""
    d = t(spark, sf_dir, "documents")
    return dedup.minhash_md5_pairs(
        d, text_col="text", id_col="doc_id", k=3, num_hashes=8, bands=4,
        min_agree=6,
    ).orderBy("id_a", "id_b")


def _neardup_edge_ctes(threshold=0.8, recursive=False) -> str:
    """The exact word-jaccard near-dup edge blocks shared by every
    graph oracle (pagerank / BFS / link prediction / personalized
    pagerank): w -> posts -> thresholded pairs e0 -> symmetrized sym.
    MATERIALIZED is load-bearing (the DuckDB CTE-inlining lesson from
    the dedup_clusters oracle). ``recursive`` prefixes WITH RECURSIVE
    for consumers that append a recursive CTE (BFS)."""
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"""
    {kw} w AS MATERIALIZED (
      SELECT doc_id AS id,
             list_distinct(string_split(lower(trim(text)), ' ')) AS ws
      FROM documents
    ),
    posts AS MATERIALIZED (SELECT id, len(ws) AS n, UNNEST(ws) AS word FROM w),
    e0 AS MATERIALIZED (
      SELECT a.id AS ia, b.id AS ib
      FROM posts a JOIN posts b ON a.word = b.word AND a.id < b.id
      GROUP BY a.id, b.id, a.n, b.n
      HAVING COUNT(*) / (a.n + b.n - COUNT(*)) >= {threshold}
    ),
    sym AS MATERIALIZED (
      SELECT ia AS u, ib AS v FROM e0 UNION ALL SELECT ib, ia FROM e0
    )"""


def _pagerank_oracle(iters=8, d_num=8500, threshold=0.8):
    """Unrolled DuckDB oracle for graph_pagerank (round 6): the exact
    word-jaccard near-dup edge set (the dedup_word_jaccard pair CTE),
    then ``iters`` unrolled integer power iterations — fixed-point
    1e-12 rank units, floor-division edge contributions, damping as an
    exact /10000 ratio — replaying the operator's integer arithmetic
    verbatim. MATERIALIZED is load-bearing (the DuckDB CTE-inlining
    lesson from the dedup_clusters oracle)."""
    parts = [_neardup_edge_ctes(threshold) + f""",
    deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    tq AS (SELECT ({10000 - d_num} * 1000000000000) // (10000 * n) AS t FROM nn),
    r0 AS MATERIALIZED (
      SELECT u, CAST(1000000000000 // n AS BIGINT) AS rq FROM deg, nn
    )"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    m{i} AS MATERIALIZED (
      SELECT s.v AS u, SUM(r.rq // d.deg) AS mass
      FROM sym s JOIN r{i - 1} r ON r.u = s.u JOIN deg d ON d.u = s.u
      GROUP BY s.v
    ),
    r{i} AS MATERIALIZED (
      SELECT d.u,
             CAST(tq.t + ({d_num} * COALESCE(m.mass, 0)) // 10000 AS BIGINT)
                 AS rq
      FROM deg d LEFT JOIN m{i} m ON m.u = d.u, tq
    )""")
    parts.append(f"""
    SELECT u AS doc_id, rq AS rank_e12 FROM r{iters} ORDER BY doc_id""")
    return "".join(parts)


@query("graph_pagerank", oracle=_pagerank_oracle(8, 8500, 0.8))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the exact word-jaccard near-dup graph
    (operators.graph.pagerank, 8 undirected power iterations) — ranks
    every doc in a dup cluster by centrality, the canonical-member
    selection signal. Join+groupBy per iteration, localCheckpoint'd
    lineage. Hash-certified since round 6: the iteration is integer
    fixed-point (1e-12 rank units, floor-division contributions, /10000
    damping), so the unrolled SQL oracle replays it exactly; the edge
    source moved from MinHash-LSH pairs (xxhash64 — not reproducible in
    the oracle engine) to the exact jaccard pairs the LSH approximates,
    which is also the stronger certification of the composition. The
    rank_e12 output is the exact bigint state (rank = rank_e12/1e12).
    Float-free invariants (mass conservation, symmetry, hand-computed
    stars) remain pinned in tests/test_graph.py."""
    from big_data_project_implementation_spark.operators import graph

    d = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, text_col="text", id_col="doc_id", k=1, threshold=0.8
    ).select(F.col("id_a"), F.col("id_b"))
    return (
        graph.pagerank(pairs, id_a="id_a", id_b="id_b")
        .select(
            F.col("id").alias("doc_id"),
            F.floor(F.col("rank") * 1e12 + F.lit(0.5)).cast("long").alias("rank_e12"),
        )
        .orderBy("doc_id")
    )


def _simhash_md5_oracle(k=3, bits=16, blocks=4, max_hamming=2) -> str:
    """DuckDB replay of dedup.simhash_md5_pairs: md5-derived per-bit
    ±1 votes, sign → fingerprint, block banding, bit_count(xor)
    Hamming verify. Same shingle clamp CTE as _minhash_md5_oracle."""
    bpb = bits // blocks
    vote_cols = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fp_expr = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    return f"""
    WITH w AS MATERIALIZED (
      SELECT doc_id AS id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          ' ') AS ws
      FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT id, s FROM (
        SELECT id,
               UNNEST(CASE WHEN len(ws) >= {k}
                      THEN list_transform(range(1, len(ws) - {k} + 2),
                                          i -> array_to_string(ws[i:i+{k - 1}],
                                                               ' '))
                      ELSE [array_to_string(ws, ' ')] END) AS s
        FROM w
      )
    ),
    hs AS MATERIALIZED (
      SELECT id,
             CAST(('0x' || substr(md5('sh:' || s), 1, 15)) AS BIGINT) AS h
      FROM sh
    ),
    votes AS MATERIALIZED (
      SELECT id,
             {vote_cols}
      FROM hs GROUP BY id
    ),
    sig AS MATERIALIZED (
      SELECT id, CAST({fp_expr} AS BIGINT) AS fp FROM votes
    ),
    blk AS MATERIALIZED (
      SELECT id, u.b, (fp >> (u.b * {bpb})) & {(1 << bpb) - 1} AS key
      FROM sig, unnest([{", ".join(str(b) for b in range(blocks))}]) u(b)
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT x.id AS id_a, y.id AS id_b
      FROM blk x JOIN blk y ON x.b = y.b AND x.key = y.key AND x.id < y.id
    )
    SELECT c.id_a, c.id_b, CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
    FROM cand c JOIN sig a ON a.id = c.id_a JOIN sig b ON b.id = c.id_b
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    ORDER BY id_a, id_b"""


@query("dedup_simhash_certified", oracle=_simhash_md5_oracle(3, 16, 4, 2))
def dedup_simhash_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with a hash-match oracle
    (operators.dedup.simhash_md5_pairs, round 6): identical vote/sign/
    block-band/Hamming pipeline as the production `dedup_simhash`, over
    an md5-derived hash the oracle replays bit-for-bit — certifying the
    vote aggregation, fingerprint assembly, block arithmetic, and
    Hamming filter that the rows-only soundness pytest cannot pin.
    Restricted to doc_id < 200 like `dedup_simhash` (the 16-bit
    fingerprint space is deliberately small; a larger corpus saturates
    it with block collisions and the candidate join goes quadratic —
    at scale use the production 64-bit path)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.simhash_md5_pairs(
        d, text_col="text", id_col="doc_id", k=3, bits=16, blocks=4,
        max_hamming=2,
    ).orderBy("id_a", "id_b")


def _method_comparison_oracle(
    k=3, num_hashes=8, bands=4, min_agree=6, bits=16, blocks=4, max_hamming=2
) -> str:
    """DuckDB replay of dedup_method_comparison: one shared shingle
    CTE feeds three pipelines — exact k-gram Jaccard (the reference
    pair set), the md5-family MinHash banding, and the md5-family
    SimHash blocking — then counts each approximate method's pair set
    and its overlap with the exact set. Every stage reuses the
    certified idioms of _minhash_md5_oracle/_simhash_md5_oracle."""
    rows_per_band = num_hashes // bands
    bpb = bits // blocks
    mh_h = lambda i: (  # noqa: E731
        f"CAST(('0x' || substr(md5('mh{i}:' || s), 1, 15)) AS BIGINT)"
    )
    sig_cols = ", ".join(f"MIN({mh_h(i)}) AS h{i}" for i in range(num_hashes))
    band_cases = " ".join(
        f"WHEN {b} THEN "
        + " || ',' || ".join(
            f"h{b * rows_per_band + j}" for j in range(rows_per_band)
        )
        for b in range(bands - 1)
    )
    last_band = " || ',' || ".join(
        f"h{(bands - 1) * rows_per_band + j}" for j in range(rows_per_band)
    )
    agree = " + ".join(
        f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(num_hashes)
    )
    vote_cols = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fp_expr = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    return f"""
    WITH w AS MATERIALIZED (
      SELECT doc_id AS id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          ' ') AS ws
      FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT id, s FROM (
        SELECT id,
               UNNEST(CASE WHEN len(ws) >= {k}
                      THEN list_transform(range(1, len(ws) - {k} + 2),
                                          i -> array_to_string(ws[i:i+{k - 1}],
                                                               ' '))
                      ELSE [array_to_string(ws, ' ')] END) AS s
        FROM w
      )
    ),
    sizes AS MATERIALIZED (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    exact AS MATERIALIZED (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.id = inter.id_a
      JOIN sizes sb ON sb.id = inter.id_b
      WHERE c / (sa.n + sb.n - c) >= 0.75
    ),
    mh_sig AS MATERIALIZED (
      SELECT id, {sig_cols} FROM sh GROUP BY id
    ),
    mh_bnd AS MATERIALIZED (
      SELECT id, u.b, CASE u.b {band_cases} ELSE {last_band} END AS key
      FROM mh_sig, unnest([{", ".join(str(b) for b in range(bands))}]) u(b)
    ),
    mh_cand AS MATERIALIZED (
      SELECT DISTINCT x.id AS id_a, y.id AS id_b
      FROM mh_bnd x JOIN mh_bnd y
        ON x.b = y.b AND x.key = y.key AND x.id < y.id
    ),
    mh AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM mh_cand c JOIN mh_sig a ON a.id = c.id_a
                     JOIN mh_sig b ON b.id = c.id_b
      WHERE {agree} >= {min_agree}
    ),
    sim_hs AS MATERIALIZED (
      SELECT id, CAST(('0x' || substr(md5('sh:' || s), 1, 15)) AS BIGINT) AS h
      FROM sh
    ),
    sim_votes AS MATERIALIZED (
      SELECT id, {vote_cols} FROM sim_hs GROUP BY id
    ),
    sim_sig AS MATERIALIZED (
      SELECT id, CAST({fp_expr} AS BIGINT) AS fp FROM sim_votes
    ),
    sim_blk AS MATERIALIZED (
      SELECT id, u.b, (fp >> (u.b * {bpb})) & {(1 << bpb) - 1} AS key
      FROM sim_sig, unnest([{", ".join(str(b) for b in range(blocks))}]) u(b)
    ),
    sim_cand AS MATERIALIZED (
      SELECT DISTINCT x.id AS id_a, y.id AS id_b
      FROM sim_blk x JOIN sim_blk y
        ON x.b = y.b AND x.key = y.key AND x.id < y.id
    ),
    sim AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM sim_cand c JOIN sim_sig a ON a.id = c.id_a
                      JOIN sim_sig b ON b.id = c.id_b
      WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    ),
    ex_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact)
    SELECT m.method, m.n_pairs, m.n_true_positive, ex_n.n_exact AS n_exact_pairs
    FROM (
      SELECT 'minhash' AS method,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COUNT(e.id_a) AS BIGINT) AS n_true_positive
      FROM mh LEFT JOIN exact e USING (id_a, id_b)
      UNION ALL
      SELECT 'simhash',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(e.id_a) AS BIGINT)
      FROM sim LEFT JOIN exact e USING (id_a, id_b)
    ) m, ex_n
    ORDER BY method"""


@query("dedup_method_comparison", oracle=_method_comparison_oracle())
def dedup_method_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup method evaluation report: precision/recall inputs for the
    certified MinHash-banding and SimHash-blocking pipelines against
    the EXACT k=3 Jaccard pair set (threshold 0.75, matching
    min_agree 6/8) on the same shingle space — the decision table a
    pipeline owner reads before picking a method for a corpus. All
    three pipelines are engine-portable (md5 family / exact sets), so
    the whole report hash-matches: both the candidate generation AND
    the cross-method set intersections certify. Restricted to
    doc_id < 200 like the simhash queries (16-bit fingerprint space)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    exact = dedup.ngram_jaccard_pairs(
        d, text_col="text", id_col="doc_id", k=3, threshold=0.75
    ).select("id_a", "id_b")
    mh = dedup.minhash_md5_pairs(
        d, k=3, num_hashes=8, bands=4, min_agree=6
    ).select("id_a", "id_b")
    sim = dedup.simhash_md5_pairs(
        d, k=3, bits=16, blocks=4, max_hamming=2
    ).select("id_a", "id_b")
    n_exact = exact.count()

    def _stats(pairs: DataFrame, method: str) -> DataFrame:
        tp = pairs.join(exact, ["id_a", "id_b"], "left_semi")
        return pairs.agg(
            F.lit(method).alias("method"),
            F.count("*").cast("bigint").alias("n_pairs"),
        ).crossJoin(
            tp.agg(F.count("*").cast("bigint").alias("n_true_positive"))
        )

    return (
        _stats(mh, "minhash")
        .unionByName(_stats(sim, "simhash"))
        .withColumn("n_exact_pairs", F.lit(n_exact).cast("bigint"))
        .orderBy("method")
    )


@query("dedup_simhash")  # approximate → rows-only; tested in pytest
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit weighted-feature hash, banded
    Hamming join — operators.dedup.simhash_pairs)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.simhash_pairs(
        d, text_col="text", id_col="doc_id", k=1, max_hamming=8, bands=4
    ).orderBy("id_a", "id_b")


_LSH_MD5_ORACLE = """
    WITH e AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                                      AS BIGINT)) AS q
      FROM embeddings
    ),
    ed AS MATERIALIZED (
      SELECT vec_id, u.d, q[u.d + 1] AS qv
      FROM e, unnest(range(0, 64)) u(d)
    ),
    hp AS MATERIALIZED (
      SELECT t.t, p.p, d.d,
             CAST(('0x' || substr(md5('lsh' || t.t || ':' || p.p || ':' || d.d),
                                  1, 15)) AS BIGINT) % 2001 - 1000 AS w
      FROM unnest(range(0, 4)) t(t),
           unnest(range(0, 6)) p(p),
           unnest(range(0, 64)) d(d)
    ),
    proj AS MATERIALIZED (
      SELECT ed.vec_id, hp.t, hp.p, SUM(ed.qv * hp.w) AS pr
      FROM ed JOIN hp USING (d)
      GROUP BY ed.vec_id, hp.t, hp.p
    ),
    bkt AS MATERIALIZED (
      SELECT vec_id, t,
             SUM(CASE WHEN pr > 0
                      THEN CAST(1 AS BIGINT) << CAST(p AS INT)
                      ELSE 0 END) AS bucket
      FROM proj GROUP BY vec_id, t
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM bkt x JOIN bkt y
        ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    nrm AS MATERIALIZED (SELECT vec_id, SUM(qv * qv) AS n2 FROM ed GROUP BY vec_id),
    dots AS MATERIALIZED (
      SELECT c.id_a, c.id_b, SUM(a.qv * b.qv) AS dot
      FROM cand c
      JOIN ed a ON a.vec_id = c.id_a
      JOIN ed b ON b.vec_id = c.id_b AND b.d = a.d
      GROUP BY c.id_a, c.id_b
    )
    SELECT d.id_a, d.id_b, CAST(d.dot AS BIGINT) AS dot_q
    FROM dots d
    JOIN nrm na ON na.vec_id = d.id_a
    JOIN nrm nb ON nb.vec_id = d.id_b
    WHERE d.dot > 0
      AND CAST(d.dot AS HUGEINT) * d.dot * 10000
          >= CAST(1225 AS HUGEINT) * na.n2 * nb.n2
    ORDER BY id_a, id_b
    """


@query("embedding_lsh_certified", oracle=_LSH_MD5_ORACLE)
def embedding_lsh_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH with a hash-match oracle
    (operators.similarity.lsh_md5_pairs, round 6): sign-bit bucketing,
    multi-table (4x6-bit) candidate join, and exact cosine verify made
    integer-exact (micro-unit embeddings, md5-derived INTEGER
    hyperplanes, square-compare cosine at 0.35 — no sqrt/float
    anywhere), so the oracle replays the whole pipeline including
    sign ties. Closes the last approximate family (hyperplane LSH)
    without certified logic; `similarity_lsh_topk` /
    `embedding_near_dup_lsh` (gaussian planes + Arrow matmul) remain
    the production path with their sf0.1 recall floors."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.lsh_md5_pairs(
        emb, dim=64, n_planes=6, n_tables=4, threshold_centi=35
    ).orderBy("id_a", "id_b")


# CTE block through `scored` (query_id, neighbor_id, cos) — shared by
# the certified top-k oracle and the round-8 ANN-evaluation oracle
_LSH_MD5_CTES = """
    WITH e AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                                      AS BIGINT)) AS q
      FROM embeddings
    ),
    ed AS MATERIALIZED (
      SELECT vec_id, u.d, q[u.d + 1] AS qv
      FROM e, unnest(range(0, 64)) u(d)
    ),
    hp AS MATERIALIZED (
      SELECT t.t, p.p, d.d,
             CAST(('0x' || substr(md5('lsh' || t.t || ':' || p.p || ':' || d.d),
                                  1, 15)) AS BIGINT) % 2001 - 1000 AS w
      FROM unnest(range(0, 4)) t(t),
           unnest(range(0, 6)) p(p),
           unnest(range(0, 64)) d(d)
    ),
    proj AS MATERIALIZED (
      SELECT ed.vec_id, hp.t, hp.p, SUM(ed.qv * hp.w) AS pr
      FROM ed JOIN hp USING (d)
      GROUP BY ed.vec_id, hp.t, hp.p
    ),
    bkt AS MATERIALIZED (
      SELECT vec_id, t,
             SUM(CASE WHEN pr > 0
                      THEN CAST(1 AS BIGINT) << CAST(p AS INT)
                      ELSE 0 END) AS bucket
      FROM proj GROUP BY vec_id, t
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT x.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM bkt x JOIN bkt c
        ON x.t = c.t AND x.bucket = c.bucket AND x.vec_id <> c.vec_id
      WHERE x.vec_id < 5
    ),
    nrm AS MATERIALIZED (SELECT vec_id, SUM(qv * qv) AS n2 FROM ed GROUP BY vec_id),
    scored AS MATERIALIZED (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
               AS cos
      FROM (
        SELECT cd.query_id, cd.neighbor_id, SUM(a.qv * b.qv) AS dot
        FROM cand cd
        JOIN ed a ON a.vec_id = cd.query_id
        JOIN ed b ON b.vec_id = cd.neighbor_id AND b.d = a.d
        GROUP BY cd.query_id, cd.neighbor_id
      ) d
      JOIN nrm na ON na.vec_id = d.query_id
      JOIN nrm nb ON nb.vec_id = d.neighbor_id
    )"""

_LSH_MD5_TOPK_ORACLE = _LSH_MD5_CTES + """
    SELECT query_id, neighbor_id,
           floor(cos * 1000000 + 0.5) / 1000000 AS cos_q6, rank
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                            ORDER BY cos DESC, neighbor_id)
                         AS INT) AS rank
          FROM scored)
    WHERE rank <= 5
    ORDER BY query_id, rank
    """

# Round 8: retrieval-quality evaluation of the certified LSH top-k
# against EXACT integer-cosine ground truth — recall@5 and the
# reciprocal rank of the true nearest neighbor, per query, as exact
# rationals. Both sides share `ed`/`nrm` (identical micro-unit
# numerics), so the whole evaluation — approx index, exact truth, and
# the metric arithmetic — is replayed by DuckDB and hash-matched.
_ANN_EVAL_ORACLE = _LSH_MD5_CTES + """,
    approx AS (
      SELECT query_id, neighbor_id, rank
      FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                              ORDER BY cos DESC, neighbor_id)
                           AS INT) AS rank
            FROM scored)
      WHERE rank <= 5
    ),
    truth_scored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
               AS cos
      FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               SUM(a.qv * b.qv) AS dot
        FROM ed a JOIN ed b ON b.d = a.d AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 5
        GROUP BY 1, 2
      ) d
      JOIN nrm na ON na.vec_id = d.query_id
      JOIN nrm nb ON nb.vec_id = d.neighbor_id
    ),
    truth AS (
      SELECT query_id, neighbor_id, rank
      FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                              ORDER BY cos DESC, neighbor_id)
                           AS INT) AS rank
            FROM truth_scored)
      WHERE rank <= 5
    ),
    hits AS (
      SELECT a.query_id, COUNT(*) AS n_hits
      FROM approx a JOIN truth t
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      GROUP BY a.query_id
    ),
    fr AS (
      SELECT a.query_id, MIN(a.rank) AS first_rank
      FROM approx a
      JOIN (SELECT query_id, neighbor_id FROM truth WHERE rank = 1) t1
        ON a.query_id = t1.query_id AND a.neighbor_id = t1.neighbor_id
      GROUP BY a.query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(f.first_rank, 0) AS BIGINT) AS first_rank,
           floor(COALESCE(h.n_hits, 0) / 5.0 * 1000000 + 0.5) / 1000000
             AS recall_q6,
           CASE WHEN f.first_rank IS NULL THEN 0.0
                ELSE floor(1000000.0 / f.first_rank + 0.5) / 1000000
           END AS rr_q6
    FROM (SELECT DISTINCT query_id FROM truth) q
    LEFT JOIN hits h ON h.query_id = q.query_id
    LEFT JOIN fr f ON f.query_id = q.query_id
    ORDER BY q.query_id
    """


@query("similarity_lsh_topk_certified", oracle=_LSH_MD5_TOPK_ORACLE)
def similarity_lsh_topk_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN TOP-K with a hash-match oracle
    (operators.similarity.lsh_md5_topk, round 7 — VERDICT r6 #4):
    the asymmetric query-serving shape — per-table sign-bit buckets,
    broadcast query↔corpus bucket join, candidate dedup, exact-integer
    cosine re-rank, per-query top-k truncation — replayed stage for
    stage in SQL via md5-derived integer hyperplanes. Together with
    ``embedding_lsh_certified`` (the symmetric near-dup-pairs shape,
    round 6) this closes the hyperplane-LSH family: both production
    compositions (`similarity_lsh_topk`, `embedding_near_dup_lsh` —
    gaussian planes + Arrow matmul) now have their LOGIC certified by
    an independent engine, while keeping their sf0.1 recall floors."""
    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_md5_topk(
        qs, emb, dim=64, k=5, n_planes=6, n_tables=4
    ).orderBy("query_id", "rank")


@query("similarity_ann_recall_eval", oracle=_ANN_EVAL_ORACLE)
def similarity_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN retrieval-quality evaluation (round 8): recall@5 and the
    reciprocal rank of the TRUE nearest neighbor, per query, for the
    certified LSH top-k (operators.similarity.lsh_md5_topk) against
    exact integer-cosine ground truth (int_cosine_topk — the SAME
    micro-unit numerics, so ranks are comparable bit-for-bit). The
    numbers a similarity deployment reads before trusting an index;
    exact rationals end to end (integer hit counts, integer
    first_rank), hash-matched against a DuckDB replay of the full
    composition — index, truth, and metric. The production
    gaussian-plane pipelines keep their sf0.1 recall-floor pytests;
    this row certifies the EVALUATION logic itself."""
    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    approx = similarity.lsh_md5_topk(qs, emb, dim=64, k=5, n_planes=6, n_tables=4)
    truth = similarity.int_cosine_topk(qs, emb, k=5)
    return similarity.topk_eval(approx, truth, k=5).orderBy("query_id")


@query(
    "similarity_bruteforce_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.qv, c.emb)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.emb, c.emb))) AS cos
      FROM q, v c
      WHERE q.query_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k ANN baseline (operators.similarity
    .brute_force_topk): broadcast queries × corpus scan, window rank."""
    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(queries_df, emb, k=5).orderBy(
        "query_id", "rank"
    )


@query(
    "similarity_hard_negatives",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS q_label, emb AS qv
          FROM v WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST(c.label AS BIGINT) AS neg_label,
             list_dot_product(q.qv, c.emb)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.emb, c.emb))) AS cos
      FROM q, v c
      WHERE c.label <> q.q_label
    )
    SELECT query_id, neighbor_id, neg_label, ROUND(cos, 6) AS cos, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (operators.similarity
    .hard_negatives): per query vector, the k nearest neighbors of a
    DIFFERENT label — exact cosine, label predicate pushed into the
    single corpus pass."""
    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.hard_negatives(queries_df, emb, k=5).orderBy(
        "query_id", "rank"
    )


@query("similarity_lsh_topk")  # approximate → rows-only; recall tested in pytest
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (operators.similarity
    .lsh_bucketed_topk) — the scale path: bucket join prunes candidates
    before exact re-rank."""
    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_bucketed_topk(queries_df, emb, dim=64, k=5, n_planes=4)


@query(
    "embedding_near_dup",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb))
             * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact (threshold 0.35 —
    the synthetic embeddings top out at cos≈0.51, so a 0.9 cut would be
    vacuously empty; the operator API default stays 0.95).
    At 100 TB the LSH-pruned variant (embedding_near_dup_lsh) replaces
    the cross join; this exact form is its oracle."""
    emb = t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", similarity.cosine("vec_a", "vec_b"))
        .filter(F.col("cos") >= 0.35)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
        .orderBy("id_a", "id_b")
    )


@query("embedding_near_dup_lsh")  # approximate → rows-only; tested in pytest
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned embedding near-dup (operators.similarity
    .embedding_near_dup_pairs) — same semantics as embedding_near_dup
    but bucket-join instead of cross-join."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(
        emb, threshold=0.35, dim=64, n_planes=4
    ).orderBy("id_a", "id_b")


@query(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    WHERE doc_id % 5 = 0
    ORDER BY media_id
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: payload attach + typed
    metadata (operators.multimodal.attach_binary_payload). Metadata
    predicates stay JVM-side so payloads are pruned at the scan."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    media = multimodal.attach_binary_payload(
        d, source_col="text", id_col="doc_id", mime="text/plain"
    )
    return media.select("media_id", "mime", "n_bytes").orderBy("media_id")


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 20 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
           CAST(CASE WHEN doc_id % 20 = 0 THEN 45
                     ELSE 44 + 2 * (100 + doc_id % 400) END AS BIGINT) AS n_bytes,
           CASE WHEN doc_id % 20 = 0 THEN 'png' ELSE 'wav' END AS kind,
           CASE WHEN doc_id % 20 = 0
                THEN CAST(16 + doc_id % 97 AS BIGINT) END AS width,
           CASE WHEN doc_id % 20 = 0
                THEN CAST(16 + (7 * doc_id) % 89 AS BIGINT) END AS height,
           CASE WHEN doc_id % 20 <> 0 THEN CAST(1 AS BIGINT) END AS channels,
           CASE WHEN doc_id % 20 <> 0 THEN CAST(8000 AS BIGINT) END AS sample_rate,
           CASE WHEN doc_id % 20 <> 0
                THEN CAST(100 + doc_id % 400 AS BIGINT) END AS n_frames
    FROM documents WHERE doc_id % 10 = 0
    ORDER BY media_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media decode, end to end: synthesize real PNG/WAV payloads
    keyed on doc_id (operators.multimodal.synthesize_media), ship them
    through Arrow as binary columns, parse headers back with the
    stdlib decoder (extract_media_metadata). The oracle recomputes the
    expected metadata in closed form, so a bug in either the encoder or
    the parser breaks the hash match."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    media = multimodal.synthesize_media(d, id_col="doc_id")
    return multimodal.extract_media_metadata(media).orderBy("media_id")


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 20 = 0 THEN 45
                  ELSE 44 + 2 * (100 + doc_id % 400) END AS n_bytes
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT media_id,
           CAST(ceil(n_bytes / 256.0) AS BIGINT) AS n_frames_sampled,
           CAST(n_bytes AS BIGINT) AS total_bytes
    FROM m ORDER BY media_id
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing end to end (operators.multimodal
    .sample_frames): synthesize real PNG/WAV payloads, slice each into
    256-byte 'frames' through Arrow, aggregate frame counts + byte
    totals per media. The oracle recomputes both in closed form from
    the synthesized payload sizes, so a slicing bug (lost tail bytes,
    off-by-one frame) breaks the hash match."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    media = multimodal.synthesize_media(d, id_col="doc_id")
    frames = multimodal.sample_frames(media, every_n_bytes=256)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count("*").cast("bigint").alias("n_frames_sampled"),
            F.sum(F.length("frame_bytes")).cast("bigint").alias("total_bytes"),
        )
        .orderBy("media_id")
    )


@query(
    "embedding_label_centroids",
    oracle="""
    WITH e AS (
      SELECT label,
             UNNEST(range(0, len(embedding))) AS dim,
             UNNEST(embedding) AS v
      FROM embeddings
    )
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10)))
                      AS DOUBLE) / count(*), 6) AS centroid
    FROM e GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (operators.similarity
    .label_centroids) — the distributed vector reduction under
    k-means/IVF and class prototypes, decimal-summed so partial
    aggregation order cannot flip the hash."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb).orderBy("label", "dim")


def _ivf_assign_blocks(n_cells: int = 16, iters: int = 2) -> str:
    """The shared training+assignment prefix of the IVF oracles: the
    exact integer-quantized Lloyd the Spark quantizer runs (micro-unit
    vectors; cosine argmax whose dot/norms are exact integers — sums
    stay under 2^53 so double arithmetic is EXACT on both engines;
    round-half-up integer refit), ending at CTE ``ca`` = every
    vector's final cell. Consumed by ``_ivf_oracle`` (serve path) and
    the round-8 ``embedding_cluster_mixture`` oracle (per-cell
    temperature quotas)."""
    cosq = ("list_dot_product(s.qv, b.centroid) / "
            "(sqrt(list_dot_product(s.qv, s.qv)) * "
            "sqrt(list_dot_product(b.centroid, b.centroid)))")
    parts = [f"""
    WITH v AS (
      SELECT vec_id AS id,
             list_transform(embedding,
               x -> FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5)) AS qv,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    c0 AS (
      SELECT cell, qv AS centroid FROM (
        SELECT CAST(row_number() OVER (ORDER BY id) AS INT) AS cell, qv, id
        FROM v) WHERE cell <= {n_cells}
    )"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    a{i} AS (
      SELECT id, cell, qv FROM (
        SELECT s.id, b.cell, s.qv,
               row_number() OVER (PARTITION BY s.id
                                  ORDER BY {cosq} DESC, b.cell ASC) AS rn
        FROM v s, c{i - 1} b) WHERE rn = 1
    ),
    r{i} AS (
      SELECT cell, u.pos AS pos, FLOOR(SUM(qv[u.pos]) / COUNT(*) + 0.5) AS m
      FROM a{i}, unnest(generate_series(1, len(qv))) u(pos)
      GROUP BY cell, u.pos
    ),
    c{i} AS (SELECT cell, list(m ORDER BY pos) AS centroid
             FROM r{i} GROUP BY cell)""")
    parts.append(f""",
    ca AS (
      SELECT id, cell FROM (
        SELECT s.id, b.cell,
               row_number() OVER (PARTITION BY s.id
                                  ORDER BY {cosq} DESC, b.cell ASC) AS rn
        FROM v s, c{iters} b) WHERE rn = 1
    )""")
    return "".join(parts)


def _ivf_oracle(n_cells: int = 16, iters: int = 2, nprobe: int = 4, k: int = 5) -> str:
    """Unrolled DuckDB oracle for similarity_ivf_topk: the
    ``_ivf_assign_blocks`` training prefix, then the serve path —
    nprobe query probes, exact double-cosine re-rank (the bruteforce
    oracle's list_dot_product convention)."""
    cosq = ("list_dot_product(s.qv, b.centroid) / "
            "(sqrt(list_dot_product(s.qv, s.qv)) * "
            "sqrt(list_dot_product(b.centroid, b.centroid)))")
    parts = [_ivf_assign_blocks(n_cells, iters)]
    parts.append(f""",
    qp AS (
      SELECT id, cell FROM (
        SELECT s.id, b.cell,
               row_number() OVER (PARTITION BY s.id
                                  ORDER BY {cosq} DESC, b.cell ASC) AS rn
        FROM v s, c{iters} b WHERE s.id < 5) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT DISTINCT qp.id AS query_id, ca.id AS neighbor_id,
             list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))) AS cos
      FROM qp JOIN ca USING (cell)
      JOIN v q ON q.id = qp.id
      JOIN v c ON c.id = ca.id
      WHERE qp.id <> ca.id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    ORDER BY query_id, rank""")
    return "".join(parts)


@query("similarity_ivf_topk", oracle=_ivf_oracle(16, 2, 4, 5))
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (operators.similarity.ivf_centroids/ivf_topk): k-means
    coarse quantizer (DataFrame-only Lloyd iterations) + nprobe-cell
    search — the inverted-list scale path next to LSH. Converted from
    rows-only to a full hash-match oracle in round 6: the quantizer now
    runs on 1e-6 integer micro-units (cosine_q — exact-integer
    dot/norms), so cell routing is bit-identical across engines and the
    oracle unrolls both Lloyd iterations plus the nprobe serve path in
    SQL. 'Approximate' survives only as the IVF design trade (cells
    bound which candidates a probe sees), which both engines now make
    identically; the nprobe recall floor vs bruteforce remains pinned
    at sf0.1."""
    emb = t(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(emb, n_cells=16, iters=2)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(queries_df, emb, cents, k=5, nprobe=4).orderBy(
        "query_id", "rank"
    )


@query(
    "text_pii_scrub",
    oracle="""
    WITH enriched AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || doc_id || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' see https://example.org/d/' || doc_id ELSE '' END
               AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT)
             AS n_urls,
           md5(regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 'https?://[^\\s]+', '<URL>', 'g')) AS scrubbed_md5
    FROM enriched
    ORDER BY doc_id
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/boilerplate scrubbing (operators.text.scrub_pii): typed regex
    redaction at scan throughput. The fixture corpus is synthetic prose
    with no PII, so deterministic emails/URLs are injected keyed on
    doc_id — the oracle rebuilds the same input and re-scrubs it, so
    both the injection and the redaction are hash-checked (scrubbed
    text compared via md5 to keep output cells scalar)."""
    d = t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" see https://example.org/d/"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    counts = text.pii_counts("text")
    return d.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["url"].alias("n_urls"),
        F.md5(text.scrub_pii("text")).alias("scrubbed_md5"),
    ).orderBy("doc_id")


@query(
    "text_quality_filter",
    oracle="""
    WITH stats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / GREATEST(length(text), 1), 6) AS punct_ratio,
             ROUND(1.0 - len(list_distinct(string_split(text, ' ')))
                   / GREATEST(len(string_split(text, ' ')), 1), 6) AS repetition_ratio,
             ROUND(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
                   / GREATEST(len(string_split(text, ' ')), 1), 6) AS mean_token_len
      FROM documents
    )
    SELECT doc_id, n_tokens, punct_ratio, repetition_ratio, mean_token_len,
           CASE WHEN n_tokens < 3 THEN 'too_short'
                WHEN n_tokens > 100000 THEN 'too_long'
                WHEN mean_token_len < 2 OR mean_token_len > 12
                     THEN 'token_len_out_of_range'
                WHEN punct_ratio > 0.3 THEN 'too_much_punct'
                WHEN repetition_ratio > 0.5 THEN 'too_repetitive'
                END AS drop_reason,
           CASE WHEN n_tokens < 3 THEN FALSE
                WHEN n_tokens > 100000 THEN FALSE
                WHEN mean_token_len < 2 OR mean_token_len > 12 THEN FALSE
                WHEN punct_ratio > 0.3 THEN FALSE
                WHEN repetition_ratio > 0.5 THEN FALSE
                ELSE TRUE END AS keep
    FROM stats
    ORDER BY doc_id
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (operators.text
    .quality_filter): stats + ordered CASE rules in one codegen
    projection; ``drop_reason`` names the first failed rule."""
    d = t(spark, sf_dir, "documents")
    return (
        text.quality_filter(d)
        .select(
            "doc_id", "n_tokens", "punct_ratio", "repetition_ratio",
            "mean_token_len", "drop_reason", "keep",
        )
        .orderBy("doc_id")
    )


@query(
    "data_hash_split",
    oracle="""
    SELECT doc_id,
           CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                - 1 AS BIGINT) AS bucket,
           CASE WHEN strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 12
                     THEN 'train'
                WHEN strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 14
                     THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    ORDER BY doc_id
    """,
)
def data_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators.text.hash_split):
    membership is a pure function of the doc id (md5 nibble), invariant
    to partitioning, ordering, and engine — the property sampling-based
    splits lack. 12/2/2 nibble buckets = 75/12.5/12.5."""
    d = t(spark, sf_dir, "documents")
    nibble = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10
    ).cast("bigint")
    return d.select(
        "doc_id",
        nibble.alias("bucket"),
        text.hash_split("doc_id").alias("split"),
    ).orderBy("doc_id")


@query(
    "data_leakage_safe_split",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    b AS (
      SELECT doc_id, fp,
             strpos('0123456789abcdef', substr(md5(fp), 1, 1)) - 1 AS nib
      FROM n
    )
    SELECT doc_id,
           fp AS content_fp,
           CASE WHEN nib < 12 THEN 'train'
                WHEN nib < 14 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    ORDER BY doc_id
    """,
)
def data_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split
    (operators.text.leakage_safe_split): membership keyed on the
    normalized content fingerprint, so duplicate documents — which get
    independent doc_ids and would be scattered across splits by
    `data_hash_split` — always share a split. Same md5-nibble
    assignment as hash_split, same engine/partition invariance; the
    no-straddle invariant and the near-dup cluster-keyed composition
    are pinned in pytest."""
    d = t(spark, sf_dir, "documents")
    return text.leakage_safe_split(d).orderBy("doc_id")


@query(
    "text_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) - n_tokens
               AS cum_before
      FROM toks
    )
    SELECT doc_id, lang, n_tokens,
           CAST(cum_before // 512 AS BIGINT) AS pack_id,
           CAST(cum_before % 512 AS BIGINT) AS pack_offset
    FROM packed
    ORDER BY doc_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining (operators.text.pack_sequences):
    docs stream into fixed-token-budget packs via a running-sum window,
    partitioned per language shard — embarrassingly parallel, no global
    sort at 100 TB."""
    d = t(spark, sf_dir, "documents").withColumn(
        "n_tokens", text.token_count("text")
    )
    return (
        text.pack_sequences(
            d, order_col="doc_id", tokens_col="n_tokens", budget=512,
            partition_col="lang",
        )
        .select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
        .orderBy("doc_id")
    )


_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.125, "zh": 1.0}


@query(
    "sample_stratified",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1 AS BIGINT) * 16
             + CAST(strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1 AS BIGINT)
               AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket
    FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 128 WHEN 'de' THEN 64
                             WHEN 'fr' THEN 64 WHEN 'es' THEN 32
                             WHEN 'zh' THEN 256 ELSE 0 END
    ORDER BY doc_id
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators.text
    .stratified_hash_sample): per-language downsampling rates applied
    through a 256-way id-hash bucket — membership is reproducible
    across runs/engines/partitionings (unlike sampleBy's RNG), so the
    kept set itself is oracle-certifiable."""
    d = t(spark, sf_dir, "documents")
    return (
        text.stratified_hash_sample(
            d, strata_col="lang", rates=_SAMPLE_RATES, id_col="doc_id"
        )
        .select("doc_id", "lang", text.hash_sample_bucket("doc_id").alias("bucket"))
        .orderBy("doc_id")
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id, UNNEST(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    vocab AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
    totals AS (SELECT SUM(c) AS total, COUNT(*) AS v_size FROM vocab)
    SELECT t.id AS doc_id,
           COUNT(*) AS n_tokens,
           FLOOR(CAST(SUM(CAST(ln((v.c + 1) / (tt.total + tt.v_size))
                              AS DECIMAL(28,10))) / COUNT(*) AS DOUBLE)
                 * 1e6 + 0.5) / 1e6
             AS mean_logprob
    FROM toks t JOIN vocab v USING (word) CROSS JOIN totals tt
    GROUP BY t.id
    ORDER BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM score per doc (operators.text
    .unigram_logprob) — the CCNet-style perplexity-proxy quality
    signal; add-one smoothing, decimal-summed for cross-engine hash
    stability."""
    d = t(spark, sf_dir, "documents")
    return text.unigram_logprob(d).orderBy("doc_id")


@query(
    "dedup_source_overlap",
    oracle="""
    WITH w AS (
      SELECT source,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS ws
      FROM documents
    ),
    sg AS (
      SELECT DISTINCT source AS g, gram
      FROM (
        SELECT source,
               UNNEST(list_distinct(list_transform(
                 range(1, GREATEST(len(ws) - 2, 1) + 1),
                 i -> array_to_string(ws[i:i+2], ' ')))) AS gram
        FROM w
      )
    ),
    sizes AS (SELECT g, count(*) AS n FROM sg GROUP BY g),
    shared AS (
      SELECT a.g AS g_a, b.g AS g_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM sg a JOIN sg b USING (gram)
      WHERE a.g < b.g
      GROUP BY a.g, b.g
    )
    SELECT g_a, g_b, n_shared,
           ROUND(n_shared / (sa.n + sb.n - n_shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.g = shared.g_a
    JOIN sizes sb ON sb.g = shared.g_b
    ORDER BY g_a, g_b
    """,
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix (operators.dedup
    .source_overlap_matrix, 3-gram shingle sets): which corpus slices
    share content — the source-level contamination diagnostic run
    before any per-doc dedup. Oracle uses raw gram strings (collision
    check); Spark shuffles 8-byte hashes."""
    d = t(spark, sf_dir, "documents")
    return dedup.source_overlap_matrix(d, k=3).orderBy("g_a", "g_b")


@query(
    "dedup_spans",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS ws
      FROM documents
    ),
    g0 AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 5
                  THEN list_transform(range(1, len(ws) - 5 + 2),
                                      i -> array_to_string(ws[i:i+4], ' '))
                  ELSE [] END AS grams
      FROM w
    ),
    occ AS (
      SELECT doc_id,
             UNNEST(range(0, len(grams))) AS pos,
             UNNEST(grams) AS gram
      FROM g0
    ),
    dup AS (SELECT gram FROM occ GROUP BY gram HAVING count(*) > 1),
    fl AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dup USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w2 IS NULL
                    OR pos - lag(pos) OVER w2 != 1
                  THEN 1 ELSE 0 END AS brk
      FROM fl WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
    ),
    num AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) - min(pos) + 5 AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM num GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """,
)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated 5-token spans per document
    (operators.dedup.duplicated_spans — the ExactSubstr dedup signal).
    Spark shuffles 8-byte gram hashes; the oracle groups raw gram
    strings, doubling as the hash-collision check at test SF."""
    d = t(spark, sf_dir, "documents")
    return dedup.duplicated_spans(d, k=5).orderBy("doc_id", "span_start")


@query(
    "dedup_mass",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS ws
      FROM documents
    ),
    g0 AS (
      -- COALESCE: null text must report n_tokens 0 (Spark side agrees)
      SELECT doc_id, COALESCE(len(ws), 0) AS n_tokens,
             CASE WHEN len(ws) >= 5
                  THEN list_transform(range(1, len(ws) - 5 + 2),
                                      i -> array_to_string(ws[i:i+4], ' '))
                  ELSE [] END AS grams
      FROM w
    ),
    occ AS (
      SELECT doc_id,
             UNNEST(range(0, len(grams))) AS pos,
             UNNEST(grams) AS gram
      FROM g0
    ),
    dup AS (SELECT gram FROM occ GROUP BY gram HAVING count(*) > 1),
    cov AS (
      SELECT DISTINCT occ.doc_id, occ.pos + o.o AS tok
      FROM occ JOIN dup USING (gram), UNNEST(range(0, 5)) o(o)
    ),
    dt AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT g0.doc_id,
           CAST(g0.n_tokens AS BIGINT) AS n_tokens,
           COALESCE(dt.dup_tokens, 0) AS dup_tokens,
           ROUND(COALESCE(dt.dup_tokens, 0)
                 / GREATEST(g0.n_tokens, 1), 6) AS dup_fraction,
           CASE WHEN COALESCE(dt.dup_tokens, 0)
                     / GREATEST(g0.n_tokens, 1) >= 0.8 THEN 'drop'
                WHEN COALESCE(dt.dup_tokens, 0) > 0 THEN 'trim'
                ELSE 'keep' END AS action
    FROM g0 LEFT JOIN dt USING (doc_id)
    ORDER BY doc_id
    """,
)
def dedup_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-token fraction + curation action
    (operators.dedup.duplicated_mass — the RefinedWeb-style policy
    over ExactSubstr spans): every doc keeps a row; overlap-exact
    token accounting via bounded offset explode + distinct."""
    d = t(spark, sf_dir, "documents")
    return dedup.duplicated_mass(d, k=5).orderBy("doc_id")


@query(
    "text_tfidf_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id, UNNEST(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    tf AS (
      SELECT id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY id, word
    ),
    dfreq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    ranked AS (
      SELECT tf.id, tf.word, tf.tf, dfreq.df,
             ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS tfidf,
             CAST(row_number() OVER (
               PARTITION BY tf.id
               ORDER BY tf.tf DESC, dfreq.df ASC, tf.word ASC
             ) AS BIGINT) AS rank
      FROM tf JOIN dfreq USING (word) CROSS JOIN n
    )
    SELECT id AS doc_id, rank, word AS term, tf, df, tfidf
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF
    (operators.text.tfidf_top_terms). Rank is integer-deterministic
    (tf DESC, df ASC, term ASC) so cross-engine float noise cannot
    reorder rows; the float score is report-only, rounded."""
    d = t(spark, sf_dir, "documents")
    return text.tfidf_top_terms(d, k=3).orderBy("doc_id", "rank")


BM25_QUERY_TERMS = ("customer", "spark", "vector")


@query(
    "text_bm25_search",
    oracle="""
    WITH lens AS (
      SELECT doc_id AS id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
      FROM lens
    ),
    tf AS (
      SELECT id, word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id AS id,
                   UNNEST(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word IN ('customer', 'spark', 'vector')
      GROUP BY id, word
    ),
    dfreq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
    )
    SELECT tf.id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           ROUND(CAST(SUM(CAST(
             ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / stats.avgdl))
             AS DECIMAL(28,10))) AS DOUBLE), 6) AS score
    FROM tf
    JOIN dfreq USING (word)
    JOIN lens USING (id)
    CROSS JOIN stats
    GROUP BY tf.id
    ORDER BY doc_id
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval over the corpus for a fixed bag-of-words
    query (operators.text.bm25_scores, k1=1.2 b=0.75). Per-term
    contributions are decimal-summed so partial-aggregation order
    cannot flip the score hash; the oracle mirrors the exact
    expression-tree association order."""
    d = t(spark, sf_dir, "documents")
    return text.bm25_scores(d, BM25_QUERY_TERMS).orderBy("doc_id")


# even sources get 800 tokens, odd 400 — a deliberately non-uniform
# mixture so the greedy boundary is exercised per source
_MIX_BUDGETS = {f"src{i}": (800 if i % 2 == 0 else 400) for i in range(20)}
_MIX_CASES = " ".join(
    f"WHEN '{s}' THEN {b}" for s, b in _MIX_BUDGETS.items()
)


@query(
    "data_token_budget_mixture",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CASE WHEN text IS NULL THEN 0
                  ELSE len(string_split(text, ' ')) END AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS ord
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY ord, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM d
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM c
    WHERE cum_tokens <= CASE source {_MIX_CASES} ELSE 0 END
    ORDER BY doc_id
    """,
)
def data_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture sampling (operators.text
    .token_budget_sample): fill each source's token budget in
    md5-of-id order — the "N tokens of web, M of code" pretraining
    mixing step, engine/partition-invariant so the kept set itself is
    oracle-certified. Bucketed variant for fat sources is
    property-tested in pytest."""
    d = t(spark, sf_dir, "documents")
    return text.token_budget_sample(d, _MIX_BUDGETS).orderBy("doc_id")


@query(
    "text_decontaminate",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, GREATEST(len(ws) - 4, 1) + 1),
               i -> array_to_string(ws[i:i+4], ' '))) AS grams
      FROM w
    ),
    posts AS (SELECT doc_id, UNNEST(grams) AS gram FROM g),
    eg AS (SELECT DISTINCT gram FROM posts WHERE doc_id % 97 = 0),
    hits AS (
      SELECT p.doc_id, COUNT(*) AS n_hit
      FROM posts p JOIN eg USING (gram)
      GROUP BY p.doc_id
    )
    SELECT g.doc_id,
           CAST(len(g.grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           COALESCE(h.n_hit, 0) > 0 AS contaminated
    FROM g LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (operators.text.decontaminate): flag
    docs sharing any 5-gram with the held-out set (doc_id % 97 == 0
    stands in for the benchmark corpus). Hashed-gram semi-join — the
    shuffle carries longs, not gram strings."""
    d = t(spark, sf_dir, "documents")
    eval_df = d.filter(F.col("doc_id") % 97 == 0)
    return text.decontaminate(d, eval_df, k=5).orderBy("doc_id")


_BLOOM_DECON_ORACLE = """
    WITH w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, GREATEST(len(ws) - 4, 1) + 1),
               i -> array_to_string(ws[i:i+4], ' '))) AS grams
      FROM w
    ),
    posts AS (SELECT doc_id, UNNEST(grams) AS gram FROM g),
    eg AS (SELECT DISTINCT gram FROM posts WHERE doc_id % 97 = 0),
    ec AS (
      SELECT CAST(('0x' || substr(md5('bf' || u.i || ':' || gram), 1, 15))
                  AS BIGINT) % 8192 AS pos
      FROM eg, unnest([0, 1, 2]) u(i)
    ),
    words AS (
      SELECT pos // 62 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INT)) AS bits
      FROM ec GROUP BY 1
    ),
    pg AS (SELECT DISTINCT gram FROM posts),
    pc AS (
      SELECT gram,
             CAST(('0x' || substr(md5('bf' || u.i || ':' || gram), 1, 15))
                  AS BIGINT) % 8192 AS pos
      FROM pg, unnest([0, 1, 2]) u(i)
    ),
    memb AS (
      SELECT pc.gram,
             BOOL_AND((COALESCE(wd.bits, 0)
                       & (CAST(1 AS BIGINT) << CAST(pc.pos % 62 AS INT)))
                      = (CAST(1 AS BIGINT) << CAST(pc.pos % 62 AS INT)))
               AS member
      FROM pc LEFT JOIN words wd ON wd.word = pc.pos // 62
      GROUP BY pc.gram
    ),
    hits AS (
      SELECT p.doc_id, COUNT(*) AS n_hit
      FROM posts p JOIN memb m ON m.gram = p.gram AND m.member
      GROUP BY p.doc_id
    )
    SELECT g.doc_id,
           CAST(len(g.grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_bloom_hit,
           COALESCE(h.n_hit, 0) > 0 AS flagged
    FROM g LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """


@query("text_bloom_decontaminate", oracle=_BLOOM_DECON_ORACLE)
def text_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a Bloom filter
    (operators.sketch.bloom_build/bloom_probe) instead of the exact
    gram semi-join: the eval set collapses to a fixed ~1 KB bitset
    that broadcasts at ANY eval-set size — the 100 TB shape when the
    benchmark suite itself is too large to broadcast as grams. Flags
    are a deterministic superset of `text_decontaminate`'s (one-sided
    md5-family error, same-bits-everywhere), which the oracle replays
    word-for-word and a pytest pins as the no-false-negative
    invariant."""
    from big_data_project_implementation_spark.operators import sketch

    d = t(spark, sf_dir, "documents")
    from big_data_project_implementation_spark.operators.dedup import shingles

    eg = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(shingles(F.col("text"), 5)).alias("gram"))
        .distinct()
    )
    bloom = sketch.bloom_build(eg, "gram", n_bits=8192, n_hashes=3)
    # ONE pass over the corpus gram stream: grams are already distinct
    # within a doc (shingles()), so the grouped probe's n_items IS the
    # per-doc gram count and no separate size()/membership-rejoin scan
    # of the corpus is needed
    from big_data_project_implementation_spark.operators.dedup import _spread

    # _spread: the gram explode + 3 md5s per gram is the CPU-bound
    # chain — a narrow scan (one local file, or a few fat replicas)
    # must fan out to the cores BEFORE the explode or one task
    # serializes the whole corpus (measured: the 100x probe's first
    # run pinned 5/6 tasks idle behind one straggler)
    dg = _spread(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(shingles(F.col("text"), 5)).alias("gram")
    ).filter(F.col("gram").isNotNull())  # NULL-text docs: no grams (oracle WHERE parity)
    counts = sketch.bloom_probe_count(
        bloom, dg, "gram", "doc_id", n_bits=8192, n_hashes=3
    )
    return counts.select(
        "doc_id",
        F.col("n_items").alias("n_grams"),
        F.col("n_member").alias("n_bloom_hit"),
        (F.col("n_member") > 0).alias("flagged"),
    ).orderBy("doc_id")


@query(
    "text_chunk_overlap",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks, n,
             UNNEST(range(0, CASE WHEN n <= 64 THEN 1
                                  ELSE (n - 64 + 47) // 48 + 1 END))
               AS chunk_idx
      FROM d
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, chunk_idx * 48 + 1,
                               chunk_idx * 48 + 64)) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(list_slice(toks, chunk_idx * 48 + 1,
                                      chunk_idx * 48 + 64), ' ')
             AS chunk_text
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking (operators.text.chunk_documents): 64-token windows
    with 16-token overlap (stride 48), final short chunk kept, one
    chunk minimum per doc. Pure per-row explode — zero shuffles; the
    oracle mirrors the exact start/length arithmetic with 1-based
    DuckDB list slices."""
    d = t(spark, sf_dir, "documents")
    return text.chunk_documents(d, chunk_tokens=64, overlap=16)


@query(
    "text_ngram_topk",
    oracle="""
    WITH toks AS (
      SELECT string_split(text, ' ') AS tks FROM documents
    ),
    g AS (
      SELECT UNNEST(list_transform(range(1, len(tks)),
                                   i -> tks[i] || ' ' || tks[i + 1]))
               AS gram
      FROM toks
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM g GROUP BY gram
    ORDER BY n_occurrences DESC, gram
    LIMIT 50
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-50 bigrams by exact count (operators.text
    .ngram_heavy_hitters): the boilerplate detector feeding span- and
    line-level curation. One map-side-combined gram groupBy +
    TakeOrderedAndProject; deterministic (count DESC, gram ASC)
    tie-break makes the top-k hash-stable."""
    d = t(spark, sf_dir, "documents")
    return text.ngram_heavy_hitters(d, n=2, k=50)


@query(
    "er_blocked_pairs",
    oracle="""
    WITH names AS (
      SELECT p_name AS name, split_part(p_name, ' ', 2) AS block,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM part GROUP BY p_name
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           a.n_rows AS rows_a, b.n_rows AS rows_b
    FROM names a JOIN names b
      ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 4
    ORDER BY name_a, name_b
    """,
)
def er_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution on part names (operators.relational
    .blocked_entity_match): distinct-names-first (kills the O(rows²)
    pairing — distinct names << rows), blocking on the head noun,
    Levenshtein <= 4 verify inside blocks only. The distinct-name side
    broadcasts; edit distance runs in JVM codegen."""
    from big_data_project_implementation_spark.operators import relational

    p = t(spark, sf_dir, "part")
    return relational.blocked_entity_match(
        p, "p_name", F.split(F.col("name"), " ").getItem(1), max_distance=4
    )


@query(
    "embedding_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             UNNEST(range(0, len(embedding))) AS dim,
             CAST(UNNEST(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    s AS (
      SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim
    )
    SELECT vec_id, CAST(e.dim AS BIGINT) AS dim,
           CAST(CASE WHEN mx = mn THEN 0
                     ELSE LEAST(FLOOR((v - mn) / (mx - mn) * 256), 255)
                END AS BIGINT) AS code
    FROM e JOIN s USING (dim)
    ORDER BY vec_id, dim
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization of the embedding corpus
    (operators.similarity.scalar_quantize): per-dim min/max learned in
    a |dims|-key groupBy, broadcast back; codes are pure integer
    output of identical-order double arithmetic — the corpus itself
    never shuffles."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.scalar_quantize(e, levels=256)


@query(
    "text_stopword_strip",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tks FROM documents
    ),
    dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM (
        SELECT DISTINCT doc_id, term
        FROM (SELECT doc_id, UNNEST(tks) AS term FROM toks)
      )
      GROUP BY term
    ),
    top AS (SELECT term FROM dfreq ORDER BY df DESC, term LIMIT 10),
    sw AS (SELECT list_sort(list(term)) AS sw_list FROM top)
    SELECT doc_id,
           CAST(len(list_filter(tks, x -> NOT list_contains(sw.sw_list, x)))
                AS BIGINT) AS n_kept,
           array_to_string(
             list_filter(tks, x -> NOT list_contains(sw.sw_list, x)), ' ')
             AS stripped
    FROM toks CROSS JOIN sw
    ORDER BY doc_id
    """,
)
def text_stopword_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword stripping (operators.text
    .strip_top_df_terms): top-10 document-frequency terms learned in a
    distinct+groupBy, broadcast as a 1-row array, removed by a JVM
    higher-order filter that preserves order and multiplicity — the
    corpus itself never shuffles."""
    d = t(spark, sf_dir, "documents")
    return text.strip_top_df_terms(d, top_n=10)


def _bfd_oracle(budget=512):
    """DuckDB oracle for text_pack_bfd (round 6): the best-fit-
    decreasing loop replayed as a recursive CTE — one recursion step
    per item per shard, state = the bin-fill list; the best bin is the
    fullest that still fits (ties -> lowest id), chosen by a correlated
    scalar subquery over the unnested fills. Proof that 'a stateful
    packing loop is not SQL-expressible' was wrong — it is, one step
    at a time, exactly like the BPE-encode replay."""
    return f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n
      FROM documents WHERE text IS NOT NULL
    ),
    items AS (
      SELECT lang, doc_id, n,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY n DESC, doc_id) AS INT) AS rn
      FROM base
    ),
    st(lang, step, fills, pid) AS (
      SELECT lang, 0, CAST([] AS BIGINT[]), CAST(NULL AS INT)
      FROM (SELECT DISTINCT lang FROM items)
      UNION ALL
      SELECT lang, step + 1,
             CASE WHEN best IS NULL THEN list_append(fills, n)
                  ELSE list_transform(generate_series(1, len(fills)),
                         j -> CASE WHEN j = best THEN fills[j] + n
                              ELSE fills[j] END)
             END,
             CAST(COALESCE(best, len(fills) + 1) AS INT)
      FROM (
        SELECT s.lang, s.step, s.fills, i.n,
               (SELECT u.j
                FROM unnest(generate_series(1, len(s.fills))) u(j)
                WHERE s.fills[u.j] + i.n <= {budget}
                ORDER BY s.fills[u.j] DESC, u.j LIMIT 1) AS best
        FROM st s JOIN items i ON i.lang = s.lang AND i.rn = s.step + 1
      )
    ),
    fin AS (
      SELECT lang, fills FROM (
        SELECT lang, fills,
               row_number() OVER (PARTITION BY lang ORDER BY step DESC) AS r
        FROM st) WHERE r = 1
    )
    SELECT i.doc_id, i.lang, i.n AS n_tokens,
           CAST(a.pid - 1 AS BIGINT) AS pack_id,
           CAST(f.fills[a.pid] AS BIGINT) AS pack_fill
    FROM st a
    JOIN items i ON i.lang = a.lang AND i.rn = a.step
    JOIN fin f ON f.lang = a.lang
    WHERE a.step >= 1
    ORDER BY i.lang, pack_id, i.doc_id"""


@query("text_pack_bfd", oracle=_bfd_oracle(512))
def text_pack_bfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing sequence packing per language shard
    (operators.text.pack_sequences_bfd): applyInPandas per shard — the
    documented custom-stateful escape hatch — tighter than the
    streaming pack_sequences at the cost of a per-shard sort.
    Hash-certified since round 6: the sequential loop replays in SQL
    as a per-shard recursive CTE (_bfd_oracle), so the Arrow-side
    Python is checked item-for-item by an independent engine;
    budget/lower-bound/partitioning invariants remain in
    tests/test_round4_ops.py. NULL-text docs are excluded on BOTH
    sides by construction (token_count(NULL) is NULL, which would
    poison the packing state — the passage_dedup convention)."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("n_tokens", text.token_count("text"))
    )
    return text.pack_sequences_bfd(d, budget=512)


@query(
    "pipeline_curate_end_to_end",
    oracle="""
    WITH stats AS (
      SELECT doc_id, text, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / GREATEST(length(text), 1), 6) AS punct_ratio,
             ROUND(1.0 - len(list_distinct(string_split(text, ' ')))
                   / GREATEST(len(string_split(text, ' ')), 1), 6) AS repetition_ratio,
             ROUND(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
                   / GREATEST(len(string_split(text, ' ')), 1), 6) AS mean_token_len
      FROM documents
    ),
    kept AS (
      SELECT doc_id, text, lang FROM stats
      WHERE n_tokens >= 3 AND n_tokens <= 100000
        AND mean_token_len >= 2 AND mean_token_len <= 12
        AND punct_ratio <= 0.3 AND repetition_ratio <= 0.5
    ),
    surv_ids AS (
      SELECT MIN(doc_id) AS doc_id
      FROM kept
      GROUP BY array_to_string(
        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                     ' ')[1:5], ' ')
    ),
    survd AS (SELECT k.* FROM kept k JOIN surv_ids USING (doc_id)),
    w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS ws
      FROM survd
    ),
    posts AS (
      SELECT doc_id, UNNEST(list_distinct(list_transform(
               range(1, GREATEST(len(ws) - 4, 1) + 1),
               i -> array_to_string(ws[i:i+4], ' ')))) AS gram
      FROM w
    ),
    ew AS (
      SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS ws
      FROM documents WHERE doc_id % 97 = 0
    ),
    eg AS (
      SELECT DISTINCT UNNEST(list_distinct(list_transform(
               range(1, GREATEST(len(ws) - 4, 1) + 1),
               i -> array_to_string(ws[i:i+4], ' ')))) AS gram
      FROM ew
    ),
    contaminated AS (SELECT DISTINCT p.doc_id FROM posts p JOIN eg USING (gram))
    SELECT s.doc_id, s.lang,
           CAST(len(string_split(s.text, ' ')) AS BIGINT) AS n_tokens,
           CASE WHEN strpos('0123456789abcdef',
                            substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 1)) - 1 < 12
                     THEN 'train'
                WHEN strpos('0123456789abcdef',
                            substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 1)) - 1 < 14
                     THEN 'val'
                ELSE 'test' END AS split
    FROM survd s LEFT JOIN contaminated c ON s.doc_id = c.doc_id
    WHERE c.doc_id IS NULL
    ORDER BY s.doc_id
    """,
)
def pipeline_curate_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE Catalyst plan — the flagship
    composition a reference user actually runs: Gopher-rule quality
    filter (codegen projection) → exact dedup on the normalized 5-word
    prefix (8-byte fingerprint shuffle, min-id survivor) → eval-set
    decontamination (hashed 5-gram semi-join vs the doc_id % 97 == 0
    held-out slice) → deterministic md5-nibble train/val/test split.
    Every stage is an already-certified operator; composing them in one
    DataFrame lets Catalyst pipeline the projections and share the
    scan — no materialization between stages, which IS the 100 TB
    deployment shape. Composition discipline (r4 verdict #3: the first
    cut paid 3× its parts): decontamination is the id-set anti-join
    form (text.contaminated_ids — eval grams broadcast, no per-doc
    count pass), computed over the RAW scan rather than the survivors —
    flagging a superset of ids is anti-join-equivalent and stops the
    quality+dedup chain from being re-planned inside the contamination
    branch (one cheap gram pass beats recomputing the whole upstream);
    and the scan is spread to full parallelism before the stats-heavy
    projections so a single small parquet file doesn't serialize the
    codegen chain."""
    from big_data_project_implementation_spark.operators import dedup
    from big_data_project_implementation_spark.operators.dedup import _spread

    d = _spread(t(spark, sf_dir, "documents"))
    kept = (
        text.quality_filter(d)
        .filter("keep")
        .select("doc_id", "text", "lang")
    )
    # tokenization contract (round 6): the two identity-bearing stages
    # — the dedup-prefix fingerprint here and the decontamination
    # shingles below — must tokenize IDENTICALLY, so both derive from
    # dedup.norm_tokens (the single source shingles itself uses). The
    # quality heuristics above may use \s+ stats; they gate rows but
    # never feed a fingerprint. Pinned by
    # tests/test_round6_ops.py::test_curate_identity_stages_share_tokenizer.
    pref = F.array_join(F.slice(dedup.norm_tokens(F.col("text")), 1, 5), " ")
    surv = dedup.exact_dedup(
        kept.withColumn("prefix", pref), text_col="prefix", id_col="doc_id"
    ).drop("prefix")
    eval_df = d.filter(F.col("doc_id") % 97 == 0)
    bad = text.contaminated_ids(d, eval_df, k=5)
    return (
        surv.join(bad, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            text.token_count("text").alias("n_tokens"),
            text.hash_split("doc_id").alias("split"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_score_drift",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(FLOOR(1.0 / (1.0 + exp(-(CAST(total AS DOUBLE) / 1000.0
                                           / GREATEST(n, 1)))) * 1e4 + 0.5)
                  AS BIGINT) AS s4
      FROM (SELECT doc_id, len(t) AS n,
                   CAST(list_sum(list_transform(t, tok ->
                     (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1000)
                     - 500)) AS BIGINT) AS total
            FROM (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE text IS NOT NULL))
    ),
    binned AS (
      SELECT CAST(LEAST(s4 * 10 // 10000, 9) AS INT) AS bin,
             CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM s GROUP BY 1
    ),
    tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM binned),
    tv AS (
      SELECT CAST(SUM(ABS(n_a * tb - n_b * ta)) AS BIGINT) AS tv_num,
             CAST(2 * MAX(ta) * MAX(tb) AS BIGINT) AS tv_den
      FROM binned, tot
    )
    SELECT bin, n_a, n_b, tv_num, tv_den,
           FLOOR(CAST(tv_num AS DOUBLE) / CAST(tv_den AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS tv_q6
    FROM binned, tv ORDER BY bin
    """,
)
def text_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score distribution drift between two corpus slices
    (operators.text.score_drift, round 7; even doc_ids stand in for
    the previous crawl, odd for the new one): per-decile counts plus
    the exact-rational total-variation distance — TV instead of
    PSI/KL deliberately, because ln()'s last ulp is engine-dependent
    while TV is pure integer arithmetic over bin counts and therefore
    hash-certifiable. Two 10-cell groupBys + scalar broadcasts; the
    drift verdict ships as constant columns (the converged-flag
    idiom)."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = text.hashed_linear_quality_score(d, ordered=False).join(
        d.select("doc_id"), "doc_id"
    )
    return text.score_drift(
        scored.filter(F.col("doc_id") % 2 == 0),
        scored.filter(F.col("doc_id") % 2 == 1),
        score_col="score",
        bins=10,
    )


@query(
    "text_filter_agreement",
    oracle="""
    WITH stats AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / GREATEST(length(text), 1), 6) AS punct_ratio,
             ROUND(1.0 - len(list_distinct(string_split(text, ' ')))
                   / GREATEST(len(string_split(text, ' ')), 1), 6) AS repetition_ratio,
             ROUND(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
                   / GREATEST(len(string_split(text, ' ')), 1), 6) AS mean_token_len
      FROM documents WHERE text IS NOT NULL
    ),
    preds AS (
      SELECT s.doc_id,
             CASE WHEN n_tokens >= 3 AND n_tokens <= 100000
                   AND mean_token_len >= 2 AND mean_token_len <= 12
                   AND punct_ratio <= 0.3 AND repetition_ratio <= 0.5
                  THEN 1 ELSE 0 END AS a,
             CASE WHEN m.s4 >= 5000 THEN 1 ELSE 0 END AS b
      FROM stats s JOIN (
        SELECT doc_id,
               CAST(FLOOR(1.0 / (1.0 + exp(-(CAST(total AS DOUBLE) / 1000.0
                                             / GREATEST(n, 1)))) * 1e4 + 0.5)
                    AS BIGINT) AS s4
        FROM (SELECT doc_id, len(t) AS n,
                     CAST(list_sum(list_transform(t, tok ->
                       (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1000)
                       - 500)) AS BIGINT) AS total
              FROM (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents WHERE text IS NOT NULL))
      ) m ON m.doc_id = s.doc_id
    ),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM(a * b) AS BIGINT) AS n11
      FROM preds
    )
    SELECT n, n00, n01, n10, n11,
           CAST(n * (n00 + n11)
                - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11))
                AS BIGINT) AS kappa_num,
           CAST(n * n
                - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11))
                AS BIGINT) AS kappa_den,
           FLOOR(CAST(n * (n00 + n11)
                      - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11))
                      AS DOUBLE)
                 / CAST(n * n
                        - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11))
                        AS DOUBLE) * 1e6 + 0.5) / 1e6 AS kappa_q6
    FROM c
    """,
)
def text_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the two quality gates the engine ships —
    the Gopher rule filter and the hashed-linear classifier at the 0.5
    operating point (operators.text.filter_agreement, round 7): the
    chance-corrected check a curation team runs before swapping one
    gate for another. Exact integer contingency + rational kappa in
    ONE map-side-combined aggregate; the classifier side thresholds
    the INTEGER 4dp score (s4 >= 5000), never a float compare."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = text.quality_filter(d).join(
        text.hashed_linear_quality_score(d, ordered=False).select(
            "doc_id",
            (F.floor(F.col("score") * 1e4 + F.lit(0.5)) >= 5000).alias("_b"),
        ),
        "doc_id",
    )
    return text.filter_agreement(scored, F.col("keep"), F.col("_b"))


@query(
    "pipeline_curate_attrition",
    oracle="""
    WITH stats AS (
      SELECT doc_id, text, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / GREATEST(length(text), 1), 6) AS punct_ratio,
             ROUND(1.0 - len(list_distinct(string_split(text, ' ')))
                   / GREATEST(len(string_split(text, ' ')), 1), 6) AS repetition_ratio,
             ROUND(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
                   / GREATEST(len(string_split(text, ' ')), 1), 6) AS mean_token_len
      FROM documents
    ),
    kept AS (
      SELECT doc_id, text, lang FROM stats
      WHERE n_tokens >= 3 AND n_tokens <= 100000
        AND mean_token_len >= 2 AND mean_token_len <= 12
        AND punct_ratio <= 0.3 AND repetition_ratio <= 0.5
    ),
    surv_ids AS (
      SELECT MIN(doc_id) AS doc_id
      FROM kept
      GROUP BY array_to_string(
        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                     ' ')[1:5], ' ')
    ),
    survd AS (SELECT k.* FROM kept k JOIN surv_ids USING (doc_id)),
    w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS ws
      FROM survd
    ),
    posts AS (
      SELECT doc_id, UNNEST(list_distinct(list_transform(
               range(1, GREATEST(len(ws) - 4, 1) + 1),
               i -> array_to_string(ws[i:i+4], ' ')))) AS gram
      FROM w
    ),
    ew AS (
      SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS ws
      FROM documents WHERE doc_id % 97 = 0
    ),
    eg AS (
      SELECT DISTINCT UNNEST(list_distinct(list_transform(
               range(1, GREATEST(len(ws) - 4, 1) + 1),
               i -> array_to_string(ws[i:i+4], ' ')))) AS gram
      FROM ew
    ),
    contaminated AS (SELECT DISTINCT p.doc_id FROM posts p JOIN eg USING (gram)),
    stg(stage_id, stage, n_docs, n_tokens) AS (
      SELECT 0, 'raw', CAST(count(*) AS BIGINT),
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM documents
      UNION ALL
      SELECT 1, 'quality', CAST(count(*) AS BIGINT),
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM kept
      UNION ALL
      SELECT 2, 'dedup', CAST(count(*) AS BIGINT),
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM survd
      UNION ALL
      SELECT 3, 'decontaminated', CAST(count(*) AS BIGINT),
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
      FROM survd WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT CAST(stage_id AS INT) AS stage_id, stage, n_docs, n_tokens
    FROM stg ORDER BY stage_id
    """,
)
def pipeline_curate_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attrition funnel of the flagship curation pipeline
    (round 7): docs and tokens surviving each stage — raw → Gopher
    quality → exact-prefix dedup → decontamination — the first report
    a curation team asks of any pipeline run ("where did my tokens
    go?"). Same operators and parameters as
    pipeline_curate_end_to_end, so the funnel IS that query's
    accounting; four map-side-combined count/sum aggregates union into
    one plan and Catalyst shares the scan + stage subtrees. Stage
    rows hash-match the unrolled oracle per stage."""
    from big_data_project_implementation_spark.operators import dedup
    from big_data_project_implementation_spark.operators.dedup import _spread

    d0 = _spread(t(spark, sf_dir, "documents"))
    kept = (
        text.quality_filter(d0).filter("keep").select("doc_id", "text", "lang")
    )
    pref = F.array_join(F.slice(dedup.norm_tokens(F.col("text")), 1, 5), " ")
    surv = dedup.exact_dedup(
        kept.withColumn("prefix", pref), text_col="prefix", id_col="doc_id"
    ).drop("prefix")
    bad = text.contaminated_ids(d0, d0.filter(F.col("doc_id") % 97 == 0), k=5)
    final = surv.join(bad, "doc_id", "left_anti")

    def stage(df: DataFrame, sid: int, name: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(text.token_count("text")).cast("bigint").alias("n_tokens"),
        ).select(
            F.lit(sid).cast("int").alias("stage_id"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
        )

    return (
        stage(d0, 0, "raw")
        .unionByName(stage(kept, 1, "quality"))
        .unionByName(stage(surv, 2, "dedup"))
        .unionByName(stage(final, 3, "decontaminated"))
        .orderBy("stage_id")
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n FROM lineitem),
    e AS (
      SELECT DISTINCT a.n AS src, b.n AS dst
      FROM m a JOIN m b ON a.g = b.g AND a.n < b.n
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e ab
    JOIN e bc ON ab.dst = bc.src
    JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-purchase graph (parts sharing an
    order; operators.graph.co_occurrence_edges + triangle_count —
    the supplier variant is near-complete on this fixture, i.e.
    degenerate): canonical a<b<c orientation counts each triangle once
    and degree-bounds the wedge stream — the standard scale
    formulation, pure equi-joins."""
    from big_data_project_implementation_spark.operators import graph

    li = t(spark, sf_dir, "lineitem")
    edges = graph.co_occurrence_edges(li, "l_orderkey", "l_partkey")
    return graph.triangle_count(edges)


@query(
    "graph_degree_hist",
    oracle="""
    WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n FROM lineitem),
    e AS (
      SELECT DISTINCT a.n AS src, b.n AS dst
      FROM m a JOIN m b ON a.g = b.g AND a.n < b.n
    ),
    ends AS (
      SELECT src AS n FROM e UNION ALL SELECT dst AS n FROM e
    ),
    deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY n
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph
    (operators.graph.degree_histogram): two map-side-combined rollups;
    shuffle traffic is node- then degree-cardinality."""
    from big_data_project_implementation_spark.operators import graph

    li = t(spark, sf_dir, "lineitem")
    edges = graph.co_occurrence_edges(li, "l_orderkey", "l_partkey")
    return graph.degree_histogram(edges)


@query(
    "text_repetition_signals",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1]) AS g2,
             list_transform(generate_series(1, len(t) - 2),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )
    SELECT doc_id,
           CAST(len(g2) AS BIGINT) AS n2_total,
           ROUND(CASE WHEN len(g2) > 0
                 THEN 1.0 - len(list_distinct(g2)) * 1.0 / len(g2)
                 ELSE 0 END, 6) AS dup_2gram_frac,
           ROUND(CASE WHEN len(g2) > 0
                 THEN list_max(list_transform(list_distinct(g2),
                      x -> len(list_filter(g2, y -> y = x)))) * 1.0 / len(g2)
                 ELSE 0 END, 6) AS top_2gram_frac,
           CAST(len(g3) AS BIGINT) AS n3_total,
           ROUND(CASE WHEN len(g3) > 0
                 THEN (len(g3) - len(list_filter(list_distinct(g3),
                       x -> len(list_filter(g3, y -> y = x)) = 1))) * 1.0 / len(g3)
                 ELSE 0 END, 6) AS dup_3gram_frac
    FROM g ORDER BY doc_id
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (dup-2gram fraction, top-2gram
    share, dup-3gram occurrence mass) per document — exact, gram-hash
    shuffles only (operators.text.repetition_signals)."""
    return text.repetition_signals(t(spark, sf_dir, "documents"))


@query(
    "text_ngram_novelty",
    oracle="""
    WITH o AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    pg AS (SELECT doc_id, gram, count(*) AS c FROM o GROUP BY 1, 2),
    fst AS (SELECT gram, min(doc_id) AS first_id FROM pg GROUP BY 1),
    pd AS (
      SELECT pg.doc_id,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(sum(CASE WHEN fst.first_id = pg.doc_id THEN c ELSE 0 END)
                  AS BIGINT) AS novel
      FROM pg JOIN fst USING (gram) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(total, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(novel, 0) AS BIGINT) AS n_novel,
           ROUND(CASE WHEN total > 0 THEN novel * 1.0 / total ELSE 0 END, 6)
               AS novelty_frac
    FROM documents d LEFT JOIN pd USING (doc_id)
    ORDER BY doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence 3-gram novelty per document (share of gram
    occurrences first seen in this doc) — exact via associative
    min-doc attribution (operators.text.ngram_novelty)."""
    return text.ngram_novelty(t(spark, sf_dir, "documents"))


@query(
    "sample_group_topk",
    oracle="""
    SELECT lang, doc_id, rank_in_group FROM (
      SELECT lang, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS rank_in_group
      FROM documents
    ) WHERE rank_in_group <= 10
    ORDER BY lang, rank_in_group
    """,
)
def sample_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-k-per-group sampling (md5-order reservoir
    equivalent; operators.text.group_topk_sample) — engine- and
    partitioning-invariant, so the drawn sample itself is certifiable."""
    return text.group_topk_sample(
        t(spark, sf_dir, "documents"), group_col="lang", k=10
    ).select("lang", "doc_id", "rank_in_group")


def _semdedup_oracle(threshold=0.35, iters=2, per_cell=250, min_cells=8):
    """Unrolled DuckDB oracle for embedding_semdedup (round 6): the
    integer-exact quantizer blocks (n_cells computed in SQL exactly as
    the query computes it), cell assignment, exact-bigint pair dots
    over micro-unit UNIT vectors against threshold*1e12, then the
    within-cell transitive closure as a recursive reach CTE with min-id
    components — the SemDeDup cross-cell trade made identically by
    both engines."""
    cosq = ("list_dot_product(s.qv, b.centroid) / "
            "(sqrt(list_dot_product(s.qv, s.qv)) * "
            "sqrt(list_dot_product(b.centroid, b.centroid)))")
    thr = int(round(threshold * 1e12))
    parts = [f"""
    WITH RECURSIVE v AS (
      SELECT vec_id AS id,
             list_transform(embedding,
               x -> FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5)) AS qv,
             list_transform(embedding,
               x -> FLOOR(CAST(x AS DOUBLE)
                          / sqrt(list_dot_product(
                              list_transform(embedding,
                                             y -> CAST(y AS DOUBLE)),
                              list_transform(embedding,
                                             y -> CAST(y AS DOUBLE))))
                          * 1e6 + 0.5)) AS uq
      FROM embeddings
    ),
    nc AS (SELECT GREATEST({min_cells}, COUNT(*) // {per_cell}) AS n FROM v),
    c0 AS (
      SELECT cell, qv AS centroid FROM (
        SELECT CAST(row_number() OVER (ORDER BY id) AS INT) AS cell, qv, id
        FROM v) WHERE cell <= (SELECT n FROM nc)
    )"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    a{i} AS (
      SELECT id, cell, qv FROM (
        SELECT s.id, b.cell, s.qv,
               row_number() OVER (PARTITION BY s.id
                                  ORDER BY {cosq} DESC, b.cell ASC) AS rn
        FROM v s, c{i - 1} b) WHERE rn = 1
    ),
    r{i} AS (
      SELECT cell, u.pos AS pos, FLOOR(SUM(qv[u.pos]) / COUNT(*) + 0.5) AS m
      FROM a{i}, unnest(generate_series(1, len(qv))) u(pos)
      GROUP BY cell, u.pos
    ),
    c{i} AS (SELECT cell, list(m ORDER BY pos) AS centroid
             FROM r{i} GROUP BY cell)""")
    parts.append(f""",
    ca AS (
      SELECT id, cell FROM (
        SELECT s.id, b.cell,
               row_number() OVER (PARTITION BY s.id
                                  ORDER BY {cosq} DESC, b.cell ASC) AS rn
        FROM v s, c{iters} b) WHERE rn = 1
    ),
    prs AS (
      SELECT x.id AS id_a, y.id AS id_b
      FROM ca x JOIN ca y ON x.cell = y.cell AND x.id < y.id
      JOIN v va ON va.id = x.id
      JOIN v vb ON vb.id = y.id
      WHERE list_dot_product(va.uq, vb.uq) >= {thr}
    ),
    sym AS (SELECT id_a AS a, id_b AS b FROM prs
            UNION ALL SELECT id_b, id_a FROM prs),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (SELECT a AS id, MIN(b) AS mn FROM reach GROUP BY a)
    SELECT v.id AS vec_id,
           CAST(ca.cell AS BIGINT) AS cell,
           CAST(COALESCE(LEAST(c.mn, v.id), v.id) AS BIGINT) AS component,
           COALESCE(LEAST(c.mn, v.id), v.id) = v.id AS kept
    FROM v JOIN ca ON ca.id = v.id
    LEFT JOIN comp c ON c.id = v.id
    ORDER BY vec_id""")
    return "".join(parts)


@query("embedding_semdedup", oracle=_semdedup_oracle(0.35, 2, 250, 8))
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup over the embeddings table: deterministic
    k-means cells bound the pair search, within-cell cosine ≥ 0.35
    pairs (the fixture's near-dup band, matching embedding_near_dup)
    transitive-close via per-cell union-find, min-id survivor per
    cluster (operators.similarity.semdedup). Hash-certified since
    round 6 (integer-exact cells + exact-bigint pair dots; the oracle
    replays training, pairing, and closure in SQL)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # scale knob: cells sized ~250 vectors keep the within-cell pair
    # search bounded (SemDeDup's own trade — the paper's 50k clusters
    # for LAION is this same ratio); 1-row scalar gates the choice
    n_cells = max(8, emb.count() // 250)
    return similarity.semdedup(emb, threshold=0.35, n_cells=n_cells).orderBy("vec_id")


_COUNT_MIN_ORACLE = (
    # Rebuilds the count-min counter matrix EXACTLY (md5-derived
    # buckets, round 6), estimates the exact top-50 bigrams from it,
    # and checks the one-sided error as a hash-match, not a pytest
    # inequality alone.
    """
    WITH toks AS (
      SELECT string_split(text, ' ') AS tks FROM documents
    ),
    g AS (
      SELECT UNNEST(list_transform(range(1, len(tks)),
                                   i -> tks[i] || ' ' || tks[i + 1]))
               AS gram
      FROM toks
    ),
    cells AS (
      SELECT d, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT u.d AS d,
               CAST(('0x' || substr(md5('cm' || u.d || ':' || gram), 1, 15))
                    AS BIGINT) % 4096 AS bucket
        FROM g, unnest([0, 1, 2, 3]) u(d)
      ) GROUP BY d, bucket
    ),
    top AS (
      SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM g GROUP BY gram
      ORDER BY n_occurrences DESC, gram LIMIT 50
    ),
    est AS (
      SELECT t.gram, MIN(COALESCE(c.cnt, 0)) AS est
      FROM top t
      CROSS JOIN unnest([0, 1, 2, 3]) u(d)
      LEFT JOIN cells c
        ON c.d = u.d
       AND c.bucket = CAST(('0x' || substr(md5('cm' || u.d || ':' || t.gram),
                                           1, 15)) AS BIGINT) % 4096
      GROUP BY t.gram
    )
    SELECT t.gram, t.n_occurrences, CAST(e.est AS BIGINT) AS est
    FROM top t JOIN est e USING (gram)
    ORDER BY n_occurrences DESC, gram"""
)


@query("sketch_count_min_topk", oracle=_COUNT_MIN_ORACLE)
def sketch_count_min_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates for the exact top-50 2-grams
    (operators.sketch): aggregation state bounded at depth×width cells
    regardless of corpus size — the bounded-memory heavy-hitter path.
    Hash-certified since round 6: bucket hashes are md5-derived (not
    xxhash64), so the oracle rebuilds the identical counter matrix and
    the collision-overestimates match cell-for-cell; est ≥ true
    one-sided error additionally pinned in pytest."""
    from big_data_project_implementation_spark.operators import sketch

    d = t(spark, sf_dir, "documents")
    grams = d.withColumn("_toks", F.split("text", " ")).select(
        F.explode(text.word_ngrams("_toks", 2)).alias("gram")
    )
    cm = sketch.count_min_build(grams, "gram", width=4096, depth=4)
    top = text.ngram_heavy_hitters(d, n=2, k=50).select(
        F.col("gram"), F.col("n_occurrences")
    )
    est = sketch.count_min_estimate(cm, top, "gram", width=4096, depth=4)
    return (
        top.join(est, top["gram"] == est["item"])
        .select("gram", "n_occurrences", "est")
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
    )


@query(
    "sketch_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_ids
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via two-level bitmap
    rollup (operators.sketch.bitmap_distinct_rollup): daily
    bitmap_construct_agg partials OR-merged with bitmap_or_agg, then
    popcounted — the reaggregatable exact-distinct pattern (daily
    partials answer weekly/monthly/all-time rollups without touching
    raw events again). Oracle is the direct COUNT(DISTINCT): the
    bitmap path must agree bit-for-bit."""
    from big_data_project_implementation_spark.operators import sketch

    ev = t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return sketch.bitmap_distinct_rollup(
        ev, ["event_type"], "day", "user_id"
    ).orderBy("event_type")


@query("sketch_hll_rollup")  # sketch estimate → rows-only; ±2% in pytest
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate twin of sketch_bitmap_distinct: daily Datasketches
    HLL partials (hll_sketch_agg) merged via hll_union_agg — fixed ~KB
    state per (key, day) whatever the id cardinality
    (operators.sketch.hll_distinct_rollup). Estimate-vs-exact
    tolerance pinned in tests/test_round4_ops.py."""
    from big_data_project_implementation_spark.operators import sketch

    ev = t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return sketch.hll_distinct_rollup(
        ev, ["event_type"], "day", "user_id"
    ).orderBy("event_type")


@query(
    "text_classifier_score",
    oracle="""
    WITH m AS (
      SELECT doc_id, len(t) AS n,
             CAST(list_sum(list_transform(t, tok ->
               (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1000) - 500
             )) AS BIGINT) AS total
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           FLOOR(CAST(total AS DOUBLE) / 1000.0 / GREATEST(n, 1) * 1e6 + 0.5)
               / 1e6 AS margin,
           FLOOR(1.0 / (1.0 + exp(-(CAST(total AS DOUBLE) / 1000.0
                                    / GREATEST(n, 1)))) * 1e4 + 0.5) / 1e4
               AS score
    FROM m ORDER BY doc_id
    """,
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style hashed-bag-of-words linear classifier inference
    at scan throughput (operators.text.hashed_linear_quality_score):
    md5-hashed integer token weights sum exactly, sigmoid on top —
    swap the hash for a broadcast weight table to serve a real quality
    model with the identical zero-shuffle plan."""
    return text.hashed_linear_quality_score(t(spark, sf_dir, "documents"))


_CLS_MARGIN_CTE = """
    m AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(FLOOR(CAST(total AS DOUBLE) / 1000.0 / GREATEST(n, 1) * 1e6
                        + 0.5) AS BIGINT) AS mq,
             CAST(FLOOR(1.0 / (1.0 + exp(-(CAST(total AS DOUBLE) / 1000.0
                                           / GREATEST(n, 1)))) * 1e4 + 0.5)
                  AS BIGINT) AS s4
      FROM (SELECT doc_id, lang, len(t) AS n,
                   CAST(list_sum(list_transform(t, tok ->
                     (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1000)
                     - 500)) AS BIGINT) AS total
            FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
                  FROM documents WHERE text IS NOT NULL))
    )"""


@query(
    "text_classifier_auc",
    oracle="""
    WITH"""
    + _CLS_MARGIN_CTE
    + """,
    g AS (SELECT mq, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS np
          FROM m GROUP BY mq),
    r AS (SELECT *, COALESCE(SUM(n) OVER (ORDER BY mq
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM g),
    st AS (SELECT CAST(SUM(np * (2 * cum + n + 1)) AS BIGINT) AS r2,
                  CAST(SUM(np) AS BIGINT) AS n_pos,
                  CAST(SUM(n - np) AS BIGINT) AS n_neg
           FROM r)
    SELECT n_pos, n_neg,
           CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
           CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den,
           FLOOR(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS auc_q6
    FROM st
    """,
)
def text_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney AUC of the hashed-linear quality score
    against the weak language label (operators.text.classifier_auc,
    round 7) — the metric a curation team reads before trusting a
    quality filter. Grouped-rank formulation: state bounded by
    distinct quantized margins, one corpus scan, no row-level global
    sort; the exact rational auc_num/auc_den is the hash-matched
    contract (average-rank tie handling included), auc_q6 its 6dp
    rendering. Ranks on the 6dp MARGIN (pure md5 integer arithmetic,
    no libm), which is rank-equivalent to the sigmoid score."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = text.hashed_linear_quality_score(d, ordered=False).join(
        d.select("doc_id", "lang"), "doc_id"
    )
    return text.classifier_auc(
        scored, score_col="margin", label=F.col("lang") == "en"
    )


@query(
    "text_classifier_reliability",
    oracle="""
    WITH"""
    + _CLS_MARGIN_CTE
    + """
    SELECT CAST(LEAST(s4 * 10 // 10000, 9) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           (SUM(s4) * 100 // count(*)) / 1e6 AS mean_score_q6,
           (SUM(y) * 1000000 // count(*)) / 1e6 AS pos_rate_q6
    FROM m GROUP BY 1 ORDER BY bin
    """,
)
def text_classifier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table of the hashed-linear quality score vs the
    weak language label (operators.text.classifier_reliability,
    round 7): per score decile, mean predicted score against empirical
    positive rate — the companion to AUC when the score becomes a
    sampling weight. One ``bins``-cell groupBy; bin assignment and
    per-bin means are integer arithmetic on the 4dp-scaled score, so
    the whole table hash-matches (a double floor(score·bins) misrounds
    exactly at bin boundaries — 0.3·10 is 2.999…96)."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = text.hashed_linear_quality_score(d, ordered=False).join(
        d.select("doc_id", "lang"), "doc_id"
    )
    return text.classifier_reliability(
        scored, score_col="score", label=F.col("lang") == "en", bins=10
    )


@query(
    "text_classifier_pr_curve",
    oracle="""
    WITH"""
    + _CLS_MARGIN_CTE
    + """,
    b AS (
      SELECT CAST(LEAST(s4 * 10 // 10000, 9) AS INT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS np
      FROM m GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(np) AS BIGINT) AS pos FROM b),
    cum AS (
      SELECT t.bin AS threshold_bin,
             CAST(SUM(b.n) AS BIGINT) AS n_flagged,
             CAST(SUM(b.np) AS BIGINT) AS tp
      FROM (SELECT DISTINCT bin FROM b) t
      JOIN b ON b.bin >= t.bin
      GROUP BY t.bin
    )
    SELECT threshold_bin, n_flagged, tp,
           CAST(n_flagged - tp AS BIGINT) AS fp,
           CAST(tot.pos - tp AS BIGINT) AS fn,
           (tp * 1000000 // n_flagged) / 1e6 AS precision_q6,
           (tp * 1000000 // tot.pos) / 1e6 AS recall_q6
    FROM cum, tot
    ORDER BY threshold_bin
    """,
)
def text_classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall at every decile threshold of the quality score
    (round 8, operators.text.classifier_pr_curve) — the
    threshold-PICKING table that completes the evaluation family (AUC
    = does it rank; calibration = does the score mean what it says;
    this = what a concrete cutoff costs in kept-junk vs lost-keepers).
    Confusion counts are exact longs from one bins-cell groupBy with
    suffix sums via a broadcast theta-join (the AUC two-level
    discipline — no SinglePartition window even over tiny state), so
    the whole curve hash-matches."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = text.hashed_linear_quality_score(d, ordered=False).join(
        d.select("doc_id", "lang"), "doc_id"
    )
    return text.classifier_pr_curve(
        scored, score_col="score", label=F.col("lang") == "en", bins=10
    )


@query(
    "pipeline_curate_v2",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    rep AS (
      SELECT doc_id,
             CASE WHEN len(g2) > 0
                  THEN ROUND(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 6)
                  ELSE 0 END AS dup2,
             CASE WHEN len(g2) > 0
                  THEN ROUND(list_max(list_transform(list_distinct(g2),
                       x -> len(list_filter(g2, y -> y = x)))) * 1.0 / len(g2), 6)
                  ELSE 0 END AS top2
      FROM (SELECT doc_id,
                   list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1]) AS g2
            FROM toks)
    ),
    cls AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             FLOOR(1.0 / (1.0 + exp(-(CAST(list_sum(list_transform(t, tok ->
               (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1000) - 500
             )) AS DOUBLE) / 1000.0 / GREATEST(len(t), 1)))) * 1e4 + 0.5) / 1e4
               AS score
      FROM toks
    ),
    occ AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      FROM toks
    ),
    pg AS (SELECT doc_id, gram, count(*) AS c FROM occ GROUP BY 1, 2),
    fst AS (SELECT gram, min(doc_id) AS first_id FROM pg GROUP BY 1),
    nov AS (
      SELECT pg.doc_id,
             ROUND(sum(CASE WHEN fst.first_id = pg.doc_id THEN c ELSE 0 END)
                   * 1.0 / sum(c), 6) AS novelty_frac
      FROM pg JOIN fst USING (gram) GROUP BY 1
    )
    SELECT d.doc_id, d.lang, cls.n_tokens, cls.score, nov.novelty_frac
    FROM documents d
    JOIN rep USING (doc_id)
    JOIN cls USING (doc_id)
    JOIN nov USING (doc_id)
    WHERE rep.dup2 <= 0.1 AND rep.top2 <= 0.18
      AND cls.score >= 0.5
      AND nov.novelty_frac >= 0.5
    ORDER BY d.doc_id
    """,
)
def pipeline_curate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 curation pipeline as ONE Catalyst plan: Gopher
    repetition filters (dup-2gram ≤ 0.1, top-2gram share ≤ 0.18) →
    hashed-linear classifier threshold (score ≥ 0.5) → corpus-novelty
    floor (first-occurrence 3-gram share ≥ 0.5). Each stage is an
    already-certified operator composed unordered (no sorts between
    stages — the scan and gram explodes are shared/pipelined by
    Catalyst; one orderBy at the very end only)."""
    d = t(spark, sf_dir, "documents")
    rep = text.repetition_signals(d, ordered=False).select(
        "doc_id", "dup_2gram_frac", "top_2gram_frac"
    )
    cls = text.hashed_linear_quality_score(d, ordered=False).select(
        "doc_id", "n_tokens", "score"
    )
    nov = text.ngram_novelty(d, ordered=False).select("doc_id", "novelty_frac")
    return (
        d.select("doc_id", "lang")
        .join(rep, "doc_id")
        .filter((F.col("dup_2gram_frac") <= 0.1) & (F.col("top_2gram_frac") <= 0.18))
        .join(cls, "doc_id")
        .filter(F.col("score") >= 0.5)
        .join(nov, "doc_id")
        .filter(F.col("novelty_frac") >= 0.5)
        .select("doc_id", "lang", "n_tokens", "score", "novelty_frac")
        .orderBy("doc_id")
    )


@query(
    "data_temperature_mixture",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT), 0)
                 AS ntok
      FROM documents
    ),
    s AS (SELECT source, CAST(SUM(ntok) AS DOUBLE) AS t FROM d GROUP BY source),
    z AS (SELECT SUM(sqrt(t)) AS z FROM s),
    r AS (SELECT source,
                 CAST(FLOOR(LEAST(1.0, 30000.0 * sqrt(t) / z / t) * 256)
                      AS BIGINT) AS rate_256
          FROM s, z)
    SELECT d.doc_id, d.source, d.ntok AS n_tokens, r.rate_256
    FROM d JOIN r USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 2)) AS BIGINT)
          < r.rate_256
    ORDER BY d.doc_id
    """,
)
def data_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source rebalancing (operators.text
    .temperature_mixture): per-source keep-rates ∝ t_s^0.5 derived
    from corpus token mass (sqrt is IEEE-exact cross-engine, unlike
    pow), quantized to 1/256 and applied via the deterministic md5 id
    bucket — no corpus shuffle, just a tiny stats agg broadcast into a
    codegen filter."""
    d = t(spark, sf_dir, "documents")
    return text.temperature_mixture(d, target_tokens=30000).orderBy("doc_id")


def _cluster_mixture_oracle(n_cells=16, iters=2, target=300) -> str:
    return _ivf_assign_blocks(n_cells, iters) + f""",
    cnt AS (SELECT cell, CAST(COUNT(*) AS DOUBLE) AS n FROM ca GROUP BY cell),
    z AS (SELECT SUM(sqrt(n)) AS z FROM cnt),
    r AS (SELECT cell,
                 CAST(FLOOR(LEAST(1.0, {target}.0 * sqrt(n) / z / n) * 256)
                      AS BIGINT) AS rate_256
          FROM cnt, z)
    SELECT ca.id AS vec_id, CAST(ca.cell AS INT) AS cell, r.rate_256
    FROM ca JOIN r USING (cell)
    WHERE CAST(('0x' || substr(md5(CAST(ca.id AS VARCHAR)), 3, 2)) AS BIGINT)
          < r.rate_256
    ORDER BY vec_id"""


@query("embedding_cluster_mixture", oracle=_cluster_mixture_oracle())
def embedding_cluster_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced mixture sampling (round 8,
    operators.similarity.cluster_mixture): temperature rebalancing
    (α=0.5, the data_temperature_mixture rule) over SEMANTIC IVF
    cells instead of source labels — the curation sampler for corpora
    whose domain signal lives in the embeddings, not the metadata.
    The whole composition is engine-exact: integer-Lloyd cells
    (_ivf_assign_blocks — the certified quantizer CTEs), per-cell
    sqrt-mass quotas in IEEE-exact double, and the deterministic
    256-way md5 id bucket for membership, so the hash gate certifies
    training, assignment, quota arithmetic, and the keep/drop
    decision of every row. Plan shape: bounded Lloyd + ONE broadcast
    argmax pass + a cells-row aggregate broadcast into a codegen
    filter — zero corpus-keyed shuffles."""
    from big_data_project_implementation_spark.operators import (
        similarity as sim,
    )

    emb = t(spark, sf_dir, "embeddings")
    return sim.cluster_mixture(emb, target=300).orderBy("vec_id")


@query(
    "text_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT source AS src, doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    tf AS (SELECT * FROM toks WHERE tok <> ''),
    dfreq AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok
    ),
    vocab AS (SELECT tok FROM dfreq ORDER BY df DESC, tok LIMIT 200)
    SELECT src AS source,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS in_vocab,
           FLOOR((1.0 - SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                        * 1.0 / COUNT(*)) * 1e6 + 0.5) / 1e6 AS oov_rate
    FROM tf LEFT JOIN vocab v USING (tok)
    GROUP BY src
    ORDER BY source
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit (operators.text.vocab_coverage):
    top-200-by-document-frequency vocab (TakeOrdered, deterministic
    tie-break) broadcast into the token stream → per-source OOV rate.
    The pre-tokenizer corpus check before committing to a vocab."""
    d = t(spark, sf_dir, "documents")
    return text.vocab_coverage(d, vocab_size=200).orderBy("source")


@query(
    "data_dsir_weights",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1024 AS bkt
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE text IS NOT NULL)
      WHERE tok <> ''
    ),
    w AS (
      SELECT bkt,
             CAST((SUM(is_t) + 1) * 1000000 // (COUNT(*) + 1) AS BIGINT) AS w
      FROM b GROUP BY bkt
    ),
    doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.w) AS BIGINT) AS weight_sum
      FROM b JOIN w USING (bkt) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, weight_sum,
           FLOOR(CAST(weight_sum AS DOUBLE) / n_tokens / 1000000 * 1e6 + 0.5)
               / 1e6 AS score
    FROM doc ORDER BY doc_id
    """,
)
def data_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-unigram importance weights
    (operators.text.dsir_importance): English-slice target
    distribution vs the raw corpus, 1024 hashed feature buckets,
    integer micro-unit ratios — the data-selection score used to
    importance-resample a web crawl toward a target domain. Exact
    integer arithmetic end-to-end (registry float convention), so the
    oracle is bit-for-bit."""
    d = t(spark, sf_dir, "documents")
    return text.dsir_importance(
        d, target=F.col("lang") == "en", buckets=1024
    ).orderBy("doc_id")


def _bpe_training_ctes(steps: int) -> str:
    """The shared unrolled BPE-training CTE chain (one pair-count /
    argmax / apply block per merge step), ending in a ``t{steps}`` CTE
    holding the last learned rule. Consumed by both `_bpe_oracle`
    (which SELECTs the rules) and `_bpe_encode_oracle` (which applies
    them to every distinct word)."""
    pair_block = """
    p{i} AS (
      SELECT pair, CAST(SUM(n) AS BIGINT) AS freq FROM (
        SELECT n, unnest(list_transform(list_zip(syms, syms[2:]),
                 z -> CASE WHEN z[2] IS NULL THEN NULL
                           ELSE z[1] || ' ' || z[2] END)) AS pair
        FROM (SELECT n, string_split(trim(seq), ' ') AS syms FROM w{prev})
      ) WHERE pair IS NOT NULL GROUP BY pair
    ),
    t{i} AS (SELECT pair, freq, replace(pair, ' ', '') AS merged
             FROM p{i} ORDER BY freq DESC, pair LIMIT 1)"""
    apply_block = """,
    w{i} AS (SELECT replace(seq, ' '||t{i}.pair||' ', ' '||t{i}.merged||' ')
                 AS seq, n
             FROM w{prev}, t{i})"""
    parts = [
        """
    w0 AS (
      SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS seq,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w
            FROM documents WHERE text IS NOT NULL)
      WHERE w <> '' GROUP BY 1
    ),"""
    ]
    for i in range(1, steps + 1):
        parts.append(pair_block.format(i=i, prev=i - 1))
        if i < steps:
            parts.append(apply_block.format(i=i, prev=i - 1))
        parts.append("," if i < steps else "")
    return "".join(parts)


def _bpe_oracle(steps: int = 5) -> str:
    """Unrolled DuckDB oracle for text_bpe_merges: one (pair-count,
    argmax, apply) CTE block per merge step."""
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, pair, merged, freq FROM t{i}"
        for i in range(1, steps + 1)
    )
    return (
        "\n    WITH " + _bpe_training_ctes(steps)
        + f"\n    SELECT * FROM ({selects}) ORDER BY rank"
    )


def _bpe_encode_oracle(steps: int = 8) -> str:
    """Unrolled DuckDB oracle for text_bpe_encode: train ``steps``
    rules (shared CTE chain), then run the greedy rank-first merge
    loop over every DISTINCT word as a recursive CTE — each recursion
    applies the (lowest-rank, leftmost) mergeable pair once. One
    occurrence per step is equivalent to the Spark UDF's
    all-occurrences-then-rescan pass because BPE rank order respects
    producer-before-consumer: a pair consuming a merged symbol is
    always ranked after the rule that created the symbol, so merging
    one occurrence can never surface a lower-ranked pair than the one
    being applied. The word's final piece count is its minimum
    symbol-list length over the recursion (lengths strictly
    decrease)."""
    return f"""
    WITH RECURSIVE {_bpe_training_ctes(steps)},
    merges AS ({" UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, pair FROM t{i}"
        for i in range(1, steps + 1))}),
    vocab AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w
        FROM documents WHERE text IS NOT NULL)
      WHERE w <> ''
    ),
    enc(w, syms) AS (
      SELECT w, string_split(w, '') FROM vocab
      UNION ALL
      SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:len(syms)]
      FROM (
        SELECT w, syms,
               (SELECT u.i
                FROM unnest(generate_series(1, len(syms) - 1)) u(i)
                JOIN merges m ON m.pair = syms[u.i] || ' ' || syms[u.i + 1]
                ORDER BY m.rank, u.i LIMIT 1) AS bi
        FROM enc
      ) WHERE bi IS NOT NULL
    ),
    pieces AS (SELECT w, CAST(MIN(len(syms)) AS BIGINT) AS n_p
               FROM enc GROUP BY w),
    toks AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE text IS NOT NULL)
      WHERE w <> ''
    )
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(p.n_p) AS BIGINT) AS n_pieces
    FROM toks t JOIN pieces p USING (w)
    GROUP BY t.doc_id ORDER BY t.doc_id"""


@query("text_bpe_merges", oracle=_bpe_oracle(5))
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary learning (operators.text.bpe_merges):
    the first 5 merge rules trained over the corpus word-frequency
    table — one corpus shuffle total, then vocab-sized argmax/apply
    iterations with the winning pair broadcast into a column-argument
    replace (never collected). The tokenizer-training counterpart of
    text_vocab_coverage."""
    d = t(spark, sf_dir, "documents")
    return text.bpe_merges(d, steps=5)


def _lpa_oracle(rounds: int = 4) -> str:
    """Unrolled DuckDB oracle for graph_label_propagation: synchronous
    LPA with (count desc, label asc) argmax, one CTE pair per round.
    The convergence flag replays the operator's free probe: converged
    iff round ``rounds`` changed no label vs round ``rounds - 1`` —
    in which case the output IS the previous round's labeling and a
    fixed point (round 7: out-of-band flag column replaced the in-band
    (-1, -1) sentinel row)."""
    head = """
    WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n FROM lineitem),
    e AS (
      SELECT DISTINCT a.n AS src, b.n AS dst
      FROM m a JOIN m b ON a.g = b.g AND a.n < b.n
    ),
    sym AS (SELECT src AS u, dst AS v FROM e
            UNION ALL SELECT dst AS u, src AS v FROM e),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym)"""
    step = """,
    c{i} AS (
      SELECT s.u AS node, l.label, count(*) AS c
      FROM sym s JOIN l{prev} l ON l.node = s.v GROUP BY 1, 2
    ),
    l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM c{i}) WHERE rn = 1
    )"""
    body = "".join(step.format(i=i, prev=i - 1) for i in range(1, rounds + 1))
    return (
        head
        + body
        + f"""
    SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label,
           NOT EXISTS (
             SELECT 1 FROM l{rounds} a JOIN l{rounds - 1} b USING (node)
             WHERE a.label <> b.label
           ) AS converged
    FROM l{rounds} ORDER BY node"""
    )


@query("graph_label_propagation", oracle=_lpa_oracle(6))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph
    (operators.graph.label_propagation, 6 synchronous rounds with the
    free in-sweep convergence probe): deterministic LPA —
    most-frequent neighbor label, smallest label on ties — the
    topical-grouping layer between exact connected components (too
    coarse) and embedding clustering (needs vectors). Integer-exact,
    so the unrolled oracle checks it round-for-round, converged flag
    included. History: round 6's probe PROVED the once-certified
    4-round labeling was not a fixed point (agreement without
    convergence — exactly what the guard surfaces); 5 rounds reach
    the fixed point at sf0.001/sf0.01, so 6 registered rounds make
    the final sweep the no-op witness (converged=true) at the same
    total edge-sweep cost round 6 paid for 5 rounds + a separate
    probe sweep. The sf0.1 bench graph reports its own convergence
    out-of-band via the flag column."""
    from big_data_project_implementation_spark.operators import graph

    li = t(spark, sf_dir, "lineitem")
    edges = graph.co_occurrence_edges(li, "l_orderkey", "l_partkey")
    return graph.label_propagation(edges, iterations=6).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("label").cast("bigint").alias("label"),
        "converged",
    )


@query(
    "text_bigram_logprob",
    oracle="""
    WITH base AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tr,
             string_split(lower(text), ' ') AS a
      FROM documents WHERE text IS NOT NULL
    ),
    pairs AS (
      SELECT doc_id, tr,
             split_part(big, chr(31), 1) AS w1,
             split_part(big, chr(31), 2) AS w2
      FROM (
        SELECT doc_id, tr,
               unnest(list_transform(list_zip(a, a[2:]),
                 z -> CASE WHEN z[2] IS NULL THEN NULL
                           ELSE z[1] || chr(31) || z[2] END)) AS big
        FROM base
      ) WHERE big IS NOT NULL
    ),
    uni AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(a) AS w FROM base WHERE tr = 1) GROUP BY w
    ),
    tot AS (SELECT SUM(c1) AS total, COUNT(*) AS v FROM uni),
    bc AS (
      SELECT w1, w2, count(*) AS c2 FROM pairs WHERE tr = 1 GROUP BY w1, w2
    ),
    scored AS (
      SELECT p.doc_id,
             CAST(CASE WHEN bc.c2 IS NOT NULL
                  THEN ln(CAST(bc.c2 AS DOUBLE) / u1.c1)
                  ELSE ln(0.4 * (COALESCE(u2.c1, 0) + 1)
                          / (CAST(t.total AS DOUBLE) + t.v))
             END AS DECIMAL(28,10)) AS lp
      FROM pairs p
      LEFT JOIN bc ON bc.w1 = p.w1 AND bc.w2 = p.w2
      LEFT JOIN uni u1 ON u1.w = p.w1
      LEFT JOIN uni u2 ON u2.w = p.w2
      CROSS JOIN tot t
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           FLOOR(CAST(SUM(lp) / count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS mean_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM scoring (operators.text.bigram_logprob)
    trained on the English slice, scoring every document — the bigram
    upgrade of text_unigram_logprob and the distributed stand-in for
    CCNet's KenLM perplexity filter. Off-model (non-English) documents
    fall through to backed-off unigram mass and score low."""
    d = t(spark, sf_dir, "documents")
    return text.bigram_logprob(d, train=F.col("lang") == "en").orderBy("doc_id")


def _pq_oracle(m: int = 4, k: int = 16, iters: int = 2) -> str:
    """Unrolled DuckDB oracle for embedding_pq_codes: the exact
    integer-quantized Lloyd the Spark operator runs (micro-unit
    subvectors → bigint argmin assignment → round-half-up integer
    centroid refit with empty-code retention), one CTE trio per
    iteration — the ``text_bpe_merges`` unrolling discipline applied
    to k-means."""
    dist = ("list_sum(list_transform(generate_series(1, len(s.sv)), "
            "x -> (s.sv[x] - b.centroid[x]) * (s.sv[x] - b.centroid[x])))")
    parts = [f"""
    WITH subs AS (
      SELECT vec_id AS id, g.sub AS sub,
             list_transform(
               e.embedding[g.sub * e.sl + 1 : g.sub * e.sl + e.sl],
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS sv
      FROM (SELECT vec_id, embedding,
                   CAST(len(embedding) // {m} AS INT) AS sl FROM embeddings) e,
           (SELECT unnest(generate_series(0, {m - 1})) AS sub) g
    ),
    seeds AS (SELECT sub, sv, MIN(id) AS mid FROM subs GROUP BY sub, sv),
    b0 AS (
      SELECT sub, CAST(rn - 1 AS INT) AS code, sv AS centroid FROM (
        SELECT sub, sv,
               row_number() OVER (PARTITION BY sub ORDER BY mid) AS rn
        FROM seeds)
      WHERE rn <= {k}
    )"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    a{i} AS (
      SELECT id, sub, code, sv FROM (
        SELECT s.id, s.sub, b.code, s.sv,
               row_number() OVER (PARTITION BY s.id, s.sub
                                  ORDER BY {dist}, b.code) AS rn
        FROM subs s JOIN b{i - 1} b USING (sub))
      WHERE rn = 1
    ),
    r{i} AS (
      SELECT sub, code, u.pos AS pos,
             CAST(FLOOR(SUM(sv[u.pos]) / COUNT(*) + 0.5) AS BIGINT) AS cx
      FROM a{i}, unnest(generate_series(1, len(sv))) u(pos)
      GROUP BY sub, code, u.pos
    ),
    rc{i} AS (
      SELECT sub, code, list(cx ORDER BY pos) AS centroid
      FROM r{i} GROUP BY sub, code
    ),
    b{i} AS (
      SELECT * FROM rc{i}
      UNION ALL
      SELECT p.sub, p.code, p.centroid FROM b{i - 1} p
      WHERE NOT EXISTS (SELECT 1 FROM rc{i} c
                        WHERE c.sub = p.sub AND c.code = p.code)
    )""")
    parts.append(f""",
    enc AS (
      SELECT id, sub, code, d FROM (
        SELECT s.id, s.sub, b.code, {dist} AS d,
               row_number() OVER (PARTITION BY s.id, s.sub
                                  ORDER BY {dist}, b.code) AS rn
        FROM subs s JOIN b{iters} b USING (sub))
      WHERE rn = 1
    )
    SELECT id AS vec_id,
           array_to_string(list(code ORDER BY sub), ',') AS codes,
           FLOOR(SUM(d) / 1e6 + 0.5) / 1e6 AS sq_err
    FROM enc GROUP BY id ORDER BY vec_id""")
    return "".join(parts)


@query("embedding_pq_codes", oracle=_pq_oracle(m=4, k=16, iters=2))
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embeddings table
    (operators.similarity.pq_codebooks + pq_encode, m=4 subspaces x
    k=16 codes): each vector compressed to 4 codes + its
    reconstruction distortion — the memory layer of an IVF-PQ index.
    Converted from rows-only to a full hash-match oracle in round 6
    (VERDICT r5 #2): the Lloyd loop now runs on 1e-6 integer
    micro-units end-to-end (bigint distances, round-half-up integer
    centroid refit), so training is bit-identical across engines and
    the oracle unrolls the identical two iterations in SQL.
    Bounds/exactness/determinism additionally pinned in
    tests/test_round5_ops.py."""
    from big_data_project_implementation_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    books = similarity.pq_codebooks(emb, m=4, k=16, iters=2)
    return (
        similarity.pq_encode(emb, books, m=4)
        .select(
            "vec_id",
            F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes"),
            "sq_err",
        )
        .orderBy("vec_id")
    )


@query(
    "pipeline_curate_v3",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1024 AS bkt
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE text IS NOT NULL)
      WHERE tok <> ''
    ),
    w AS (
      SELECT bkt,
             CAST((SUM(is_t) + 1) * 1000000 // (COUNT(*) + 1) AS BIGINT) AS w
      FROM b GROUP BY bkt
    ),
    dsir AS (
      SELECT doc_id,
             FLOOR(CAST(CAST(SUM(w.w) AS BIGINT) AS DOUBLE)
                   / COUNT(*) / 1000000 * 1e6 + 0.5) / 1e6 AS dsir_score
      FROM b JOIN w USING (bkt) GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tr,
             string_split(lower(text), ' ') AS a
      FROM documents WHERE text IS NOT NULL
    ),
    pairs AS (
      SELECT doc_id, tr,
             split_part(big, chr(31), 1) AS w1,
             split_part(big, chr(31), 2) AS w2
      FROM (
        SELECT doc_id, tr,
               unnest(list_transform(list_zip(a, a[2:]),
                 z -> CASE WHEN z[2] IS NULL THEN NULL
                           ELSE z[1] || chr(31) || z[2] END)) AS big
        FROM base
      ) WHERE big IS NOT NULL
    ),
    uni AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(a) AS w FROM base WHERE tr = 1) GROUP BY w
    ),
    tot AS (SELECT SUM(c1) AS total, COUNT(*) AS v FROM uni),
    bc AS (
      SELECT w1, w2, count(*) AS c2 FROM pairs WHERE tr = 1 GROUP BY w1, w2
    ),
    lm AS (
      SELECT doc_id,
             FLOOR(CAST(SUM(lp) / count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
                 AS lm_score
      FROM (
        SELECT p.doc_id,
               CAST(CASE WHEN bc.c2 IS NOT NULL
                    THEN ln(CAST(bc.c2 AS DOUBLE) / u1.c1)
                    ELSE ln(0.4 * (COALESCE(u2.c1, 0) + 1)
                            / (CAST(t.total AS DOUBLE) + t.v))
               END AS DECIMAL(28,10)) AS lp
        FROM pairs p
        LEFT JOIN bc ON bc.w1 = p.w1 AND bc.w2 = p.w2
        LEFT JOIN uni u1 ON u1.w = p.w1
        LEFT JOIN uni u2 ON u2.w = p.w2
        CROSS JOIN tot t
      ) GROUP BY doc_id
    ),
    surv AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM documents WHERE text IS NOT NULL
      ) WHERE doc_id = keeper
    ),
    thr AS (
      SELECT FLOOR(quantile_cont(dsir_score, 0.5) * 1e6 + 0.5) / 1e6 AS dsir_med
      FROM dsir
    ),
    thr2 AS (
      SELECT FLOOR(quantile_cont(lm_score, 0.25) * 1e6 + 0.5) / 1e6 AS lm_p25
      FROM lm
    )
    SELECT d.doc_id, d.lang, dsir.dsir_score, lm.lm_score
    FROM documents d
    JOIN surv USING (doc_id)
    JOIN dsir USING (doc_id)
    JOIN lm USING (doc_id)
    CROSS JOIN thr CROSS JOIN thr2
    WHERE dsir.dsir_score >= thr.dsir_med AND lm.lm_score >= thr2.lm_p25
    ORDER BY d.doc_id
    """,
)
def pipeline_curate_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 late curation pipeline as ONE Catalyst plan, composing
    this round's signals: exact-dup survivorship (min-id per content
    hash) → DSIR importance floor (≥ corpus median, self-calibrating)
    → bigram-LM fluency floor (≥ corpus p25, self-calibrating).
    The three signal subplans share the documents scan; Catalyst
    pipelines the joins with no intermediate materialization — the
    v2 lesson applied to the importance-resampling stack."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    dsir = text.dsir_importance(d, target=F.col("lang") == "en").select(
        "doc_id", F.col("score").alias("dsir_score")
    )
    lm = text.bigram_logprob(d, train=F.col("lang") == "en").select(
        "doc_id", F.col("mean_logprob").alias("lm_score")
    )
    wmin = Window.partitionBy(F.md5("text"))
    surv = (
        d.select("doc_id", F.min("doc_id").over(wmin).alias("keeper"), "text")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id")
    )
    # self-calibrating floors (corpus median / p25, 1-row broadcast):
    # absolute thresholds don't transfer across scales — the target-
    # slice fraction and smoothing mass shift the whole distribution
    # floor-form 6dp pin (repo convention), never ROUND: the two
    # engines' double-ROUND tie rules differ and an exact ...5 quantile
    # would flip the threshold
    thr = dsir.agg(
        (F.floor(F.expr("percentile(dsir_score, 0.5)") * 1e6 + 0.5) / 1e6)
        .alias("dsir_med")
    )
    thr2 = lm.agg(
        (F.floor(F.expr("percentile(lm_score, 0.25)") * 1e6 + 0.5) / 1e6)
        .alias("lm_p25")
    )
    return (
        d.select("doc_id", "lang")
        .join(surv, "doc_id")
        .join(dsir, "doc_id")
        .join(lm, "doc_id")
        .crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(thr2))
        .filter(
            (F.col("dsir_score") >= F.col("dsir_med"))
            & (F.col("lm_score") >= F.col("lm_p25"))
        )
        .select("doc_id", "lang", "dsir_score", "lm_score")
        .orderBy("doc_id")
    )


@query(
    "sample_weighted_es",
    oracle="""
    SELECT doc_id, source, n_chars, es_key
    FROM (
      SELECT doc_id, source, n_chars,
             FLOOR(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) + 1) / 4294967297.0)
                   / n_chars * 1e12 + 0.5) / 1e12 AS es_key
      FROM documents
      WHERE n_chars > 0
    )
    ORDER BY es_key DESC, doc_id LIMIT 50
    """,
)
def sample_weighted_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement, 50 docs ∝ n_chars
    (operators.text.weighted_sample, Efraimidis-Spirakis exponential
    keys from md5 randomness): longer documents are proportionally
    likelier, the draw is reproducible on any engine/partitioning, and
    the plan is a codegen projection + TakeOrderedAndProject — no
    shuffle."""
    d = t(spark, sf_dir, "documents")
    return text.weighted_sample(
        d.select("doc_id", "source", "n_chars"), weight=F.col("n_chars"), k=50
    )


@query(
    "embedding_covariance",
    oracle="""
    WITH tri AS (
      SELECT ii.i AS i, jj.j AS j,
             CAST(FLOOR(CAST(e[ii.i + 1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(CAST(e[jj.j + 1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS y
      FROM (SELECT embedding AS e FROM embeddings) v,
      LATERAL (SELECT unnest(generate_series(0, len(e) - 1)) AS i) ii,
      LATERAL (SELECT unnest(generate_series(ii.i, len(e) - 1)) AS j) jj
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           FLOOR((CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) / count(*)
                  - (CAST(SUM(x) AS DOUBLE) / count(*))
                    * (CAST(SUM(y) AS DOUBLE) / count(*))) / 1e12 * 1e10 + 0.5)
               / 1e10 AS cov
    FROM tri GROUP BY i, j ORDER BY i, j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dimension-covariance matrix of the embedding corpus
    (operators.similarity.embedding_covariance) — the PCA-whitening /
    anisotropy-audit input. Upper-triangle outer products expand in
    codegen per row (no self-join); one map-side-combined groupBy over
    d(d+1)/2 keys; decimal-exact sums make the matrix engine- and
    partitioning-invariant."""
    from big_data_project_implementation_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    return similarity.embedding_covariance(emb)


@query(
    "multimodal_entropy",
    oracle="""
    WITH RECURSIVE media AS (
      SELECT doc_id AS media_id,
             doc_id % 20 = 0 AS is_png,
             16 + doc_id % 97 AS w,
             16 + (7 * doc_id) % 89 AS h,
             100 + doc_id % 400 AS nf
      FROM documents
    ),
    -- CRC-32 (IEEE 802.3) lookup table, computed in SQL: 8 polynomial
    -- halvings of each seed byte with 0xEDB88320
    tgen(n, c, i) AS (
      SELECT n, CAST(n AS BIGINT), 0
      FROM (SELECT unnest(generate_series(0, 255)) AS n)
      UNION ALL
      SELECT n,
             CASE WHEN c & 1 = 1 THEN xor(3988292384, c >> 1) ELSE c >> 1 END,
             i + 1
      FROM tgen WHERE i < 8
    ),
    crc_tab AS (SELECT n, c FROM tgen WHERE i = 8),
    -- the 17 CRC-covered IHDR bytes: tag + be32(w) + be32(h) + 8,2,0,0,0
    ihdr AS (
      SELECT media_id, [73,72,68,82,
          (w >> 24) & 255, (w >> 16) & 255, (w >> 8) & 255, w & 255,
          (h >> 24) & 255, (h >> 16) & 255, (h >> 8) & 255, h & 255,
          8,2,0,0,0] AS bs
      FROM media WHERE is_png
    ),
    crc_fold(media_id, pos, c) AS (
      SELECT media_id, 0, CAST(4294967295 AS BIGINT) FROM ihdr
      UNION ALL
      SELECT f.media_id, f.pos + 1, xor(f.c >> 8, t.c)
      FROM crc_fold f
      JOIN ihdr b ON b.media_id = f.media_id
      JOIN crc_tab t ON t.n = xor(f.c, b.bs[f.pos + 1]) & 255
      WHERE f.pos < 17
    ),
    crc AS (SELECT media_id, xor(c, 4294967295) AS crc
            FROM crc_fold WHERE pos = 17),
    -- the full 45-byte PNG: magic + IHDR(len,tag,data,crc) + IEND
    png_all AS (
      SELECT m.media_id,
             [137,80,78,71,13,10,26,10, 0,0,0,13]
             || i.bs
             || [(crc >> 24) & 255, (crc >> 16) & 255,
                 (crc >> 8) & 255, crc & 255]
             || [0,0,0,0, 73,69,78,68, 174,66,96,130] AS bs
      FROM media m JOIN ihdr i USING (media_id) JOIN crc USING (media_id)
    ),
    -- the canonical 44-byte stdlib WAV header; PCM silence follows
    wav_hdr AS (
      SELECT media_id, [82,73,70,70,
          (36 + 2*nf) & 255, ((36 + 2*nf) >> 8) & 255,
          ((36 + 2*nf) >> 16) & 255, ((36 + 2*nf) >> 24) & 255,
          87,65,86,69, 102,109,116,32,
          16,0,0,0, 1,0, 1,0,
          64,31,0,0, 128,62,0,0,
          2,0, 16,0,
          100,97,116,97,
          (2*nf) & 255, ((2*nf) >> 8) & 255,
          ((2*nf) >> 16) & 255, ((2*nf) >> 24) & 255] AS bs,
          CAST(2*nf AS BIGINT) AS zeros
      FROM media WHERE NOT is_png
    ),
    hist AS (
      SELECT media_id, b, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT media_id, unnest(bs) AS b FROM png_all
        UNION ALL
        SELECT media_id, unnest(bs) AS b FROM wav_hdr
      ) GROUP BY media_id, b
    ),
    histz AS (
      SELECT h.media_id, h.b,
             h.cnt + CASE WHEN h.b = 0 THEN COALESCE(w.zeros, 0) ELSE 0 END
                 AS cnt
      FROM hist h LEFT JOIN wav_hdr w ON w.media_id = h.media_id
    ),
    tot AS (SELECT media_id, SUM(cnt) AS n FROM histz GROUP BY media_id),
    ent AS (
      SELECT h.media_id,
             -SUM((CAST(cnt AS DOUBLE) / n)
                  * ln(CAST(cnt AS DOUBLE) / n) / ln(2)) AS hraw,
             MAX(cnt) AS maxc, ANY_VALUE(n) AS n
      FROM histz h JOIN tot USING (media_id) GROUP BY h.media_id
    )
    SELECT m.media_id,
           CASE WHEN m.is_png THEN 'image/png' ELSE 'audio/wav' END AS mime,
           CAST(CASE WHEN m.is_png THEN 45 ELSE 44 + 2*m.nf END AS BIGINT)
               AS n_bytes,
           FLOOR(hraw * 1e6 + 0.5) / 1e6 AS byte_entropy,
           FLOOR(CAST(maxc AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS top_byte_frac
    FROM ent JOIN media m USING (media_id)
    ORDER BY media_id
    """,
)
def multimodal_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-entropy corruption audit over synthesized media payloads
    (operators.multimodal.payload_entropy): zero-filled PCM WAVs sit
    near 0 bits/byte, PNG container bytes strictly higher — the cheap
    pre-decode health gate for a media lake. Converted from rows-only
    to a full hash-match oracle in round 6 (VERDICT r5 #2): the
    fixtures contain no zlib stream — the only non-arithmetic bytes
    are two CRC-32s, one constant (IEND) and one over 17 closed-form
    IHDR bytes — so the oracle implements CRC-32 itself in SQL (a
    256-entry recursive-CTE table + a 17-step fold) and rebuilds every
    payload's byte histogram arithmetically from doc_id, then entropy
    in integer micro-units on both sides (the embedding_covariance
    convention). Known-value and wav<png separation also pinned in
    tests/test_round5_ops.py."""
    from big_data_project_implementation_spark.operators import multimodal as mm

    base = t(spark, sf_dir, "documents").select("doc_id")
    media = mm.synthesize_media(base, "doc_id")
    return mm.payload_entropy(media).orderBy("media_id")


@query(
    "dedup_containment",
    oracle="""
    WITH posts0 AS (
      SELECT DISTINCT doc_id AS doc, gram FROM (
        SELECT doc_id,
               list_transform(generate_series(1, len(t) - 2),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS gs
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
              FROM documents WHERE text IS NOT NULL)
      ), unnest(gs) AS u(gram)
    ),
    rare AS (
      SELECT gram FROM posts0 GROUP BY gram HAVING count(*) <= 64
    ),
    posts AS (SELECT doc, gram FROM posts0 JOIN rare USING (gram)),
    sizes AS (SELECT doc, count(*) AS n_grams FROM posts GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
      FROM posts a JOIN posts b ON a.gram = b.gram AND a.doc <> b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(n_grams AS BIGINT) AS n_grams_a,
           FLOOR(inter * 1.0 / n_grams * 1e6 + 0.5) / 1e6 AS containment
    FROM inter JOIN sizes ON sizes.doc = inter.doc_a
    WHERE FLOOR(inter * 1.0 / n_grams * 1e6 + 0.5) / 1e6 >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-gram containment pairs ≥ 0.8
    (operators.dedup.containment_pairs): near-SUBSET detection —
    quotation/boilerplate inclusion that Jaccard under-scores because
    the union is dominated by the longer document. Hash-agnostic
    result (grams only ever join against themselves), so the Spark
    side uses 8-byte xxhash64 postings while the oracle joins raw
    gram strings."""
    d = t(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, n=3, threshold=0.8)


@query(
    "text_passage_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE text IS NOT NULL
    ),
    ch AS (
      SELECT doc_id, i - 1 AS idx,
             array_to_string(t[(i-1)*8+1 : (i-1)*8+8], ' ') AS passage
      FROM toks, unnest(generate_series(1,
             CAST(ceil(len(t) / 8.0) AS INT))) AS g(i)
    ),
    ranked AS (
      SELECT doc_id, idx, passage,
             row_number() OVER (PARTITION BY passage
                                ORDER BY doc_id, idx) AS rn
      FROM ch
    ),
    re AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(passage, ' ' ORDER BY idx) AS dedup_text
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, CAST(ceil(len(t) / 8.0) AS BIGINT) AS n_chunks
      FROM toks
    )
    SELECT b.doc_id, b.n_chunks,
           COALESCE(re.n_kept, 0) AS n_kept,
           COALESCE(re.dedup_text, '') AS dedup_text
    FROM base b LEFT JOIN re USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def text_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup (operators.text.passage_dedup, CCNet-style):
    8-token passages deduped corpus-wide by first occurrence, documents
    reassembled from their surviving passages — repeated boilerplate
    vanishes everywhere but its first appearance without dropping whole
    docs. One content-hash shuffle elects winners; reassembly groups by
    doc. Unlike the hash-keyed dedup ops this one is string-exact on
    both engines (the oracle reassembles the same passages)."""
    d = t(spark, sf_dir, "documents")
    return text.passage_dedup(d, chunk=8).orderBy("doc_id")


@query(
    "text_pmi_topk",
    oracle="""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
      WHERE text IS NOT NULL
    ),
    prs AS (
      SELECT t[i] AS w1, t[j] AS w2
      FROM toks,
           unnest(generate_series(1, len(t) - 1)) AS gi(i),
           unnest(generate_series(1, len(t))) AS gj(j)
      WHERE j > i AND j <= i + 3
    ),
    pc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
      FROM prs GROUP BY w1, w2
    ),
    uni AS (
      SELECT u AS w, CAST(count(*) AS BIGINT) AS c_w
      FROM toks, unnest(t) AS x(u) GROUP BY u
    ),
    tot AS (SELECT CAST(SUM(c_pair) AS DOUBLE) AS t FROM pc)
    SELECT w1, w2, c_pair,
           FLOOR(ln(c_pair * tot.t / (u1.c_w * u2.c_w)) * 1e6 + 0.5) / 1e6
               AS pmi
    FROM pc
    JOIN uni u1 ON u1.w = pc.w1
    JOIN uni u2 ON u2.w = pc.w2
    CROSS JOIN tot
    WHERE c_pair >= 30
    ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
)
def text_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information over a
    3-token skip-gram window (operators.text.pmi_pairs) — the
    word2vec/GloVe co-occurrence prep and phrase-mining signal. The
    Spark side expands skip-gram pairs in codegen (no positional
    self-join — the oracle's generate_series cross join is exactly the
    quadratic the flatten replaces); pair/unigram counts are map-side
    combined, the grand total is a 1-row broadcast."""
    d = t(spark, sf_dir, "documents")
    return text.pmi_pairs(d, window=3, top_k=50, min_count=30)


@query(
    "audit_table_diff",
    oracle="""
    WITH v_old AS (
      SELECT event_id, user_id, event_type, value FROM events
      WHERE event_id % 50 <> 0
    ),
    v_new AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_id % 31 = 0 THEN value + 1.0 ELSE value END
                 AS value
      FROM events WHERE event_id % 97 <> 0
    )
    SELECT COALESCE(o.event_id, n.event_id) AS event_id,
           CASE WHEN o.event_id IS NULL THEN 'added'
                WHEN n.event_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM v_old o FULL OUTER JOIN v_new n ON o.event_id = n.event_id
    WHERE o.event_id IS NULL OR n.event_id IS NULL
       OR o.user_id <> n.user_id OR o.event_type <> n.event_type
       OR o.value <> n.value
    ORDER BY event_id
    """,
)
def audit_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (operators.relational.table_diff): which
    keys were added / removed / changed between two table versions —
    the audit companion to audit_table_fingerprint (that one says
    WHETHER, this says WHERE), i.e. the CDC/migration-sign-off
    primitive. Demonstrated on two derived snapshots of the events
    table (2% rows dropped, ~1% inserted, ~3% value-mutated). One
    co-partitioned full-outer join; non-key payload collapses to an
    8-byte hash BEFORE the exchange, so the wire carries keys+hashes.
    The internal hash columns are Spark-side xxhash64 and not part of
    the certified result (key + status only)."""
    from big_data_project_implementation_spark.operators import relational

    e = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    v_old = e.filter(F.col("event_id") % 50 != 0)
    v_new = e.filter(F.col("event_id") % 97 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 31 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    return (
        relational.table_diff(v_old, v_new, keys=["event_id"])
        .select("event_id", "status")
        .orderBy("event_id")
    )


@query(
    "data_epoch_shuffle",
    oracle="""
    WITH pos AS (
      SELECT doc_id, source,
             row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '#epoch1'), doc_id
             ) - 1 AS position
      FROM documents
    )
    SELECT doc_id, source, CAST(position AS BIGINT) AS position,
           CAST(position // 32 AS BIGINT) AS batch_idx,
           CAST(position % 32 AS BIGINT) AS pos_in_batch
    FROM pos ORDER BY position
    """,
)
def data_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-1 shuffle + 32-doc minibatch plan
    (operators.text.epoch_shuffle): the dataloader shard assignment as
    a cluster-side table — md5(id, epoch) ordering is a pure function
    of ids, so the oracle's single global row_number reproduces it
    exactly while the Spark side uses the distributed zipWithIndex
    (range exchange + broadcast prefix offsets, no one-task window)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return text.epoch_shuffle(d, batch_size=32, epoch=1).orderBy("position")


def _ivfpq_oracle(n_cells=16, ivf_iters=2, m=8, n_codes=32, pq_iters=2,
                  nprobe=4, refine=16, k=5, train_pred=None):
    """Unrolled DuckDB oracle for the COMPOSED IVF-PQ pipeline
    (round 6): integer-exact IVF training (the _ivf_oracle blocks),
    integer-exact PQ training with empty-code retention (the
    _pq_oracle blocks, pa/pr/pb-prefixed), then the full serve path —
    cell routing, per-query ADC lookup table over exact bigint
    distances, refine*k shortlist, exact double-cosine re-rank. Every
    stage is bit-identical across engines thanks to the micro-unit
    quantization convention, so the flagship ANN query carries a real
    hash-match oracle instead of a recall floor alone."""
    # round 8 (stream_ann_index_update): when train_pred is given, the
    # MODEL-TRAINING CTEs (IVF seeds + Lloyd assignments, PQ seeds +
    # Lloyd assignments) see only rows matching it — the frozen-model
    # split; ENCODING and serving still cover every vector, exactly
    # like an index whose base was trained once and whose arrivals are
    # encoded with the frozen model.
    tw = f" WHERE {train_pred}" if train_pred else ""
    cosq = ("list_dot_product(s.qv, b.centroid) / "
            "(sqrt(list_dot_product(s.qv, s.qv)) * "
            "sqrt(list_dot_product(b.centroid, b.centroid)))")
    pdist = ("list_sum(list_transform(generate_series(1, len(s.sv)), "
             "x -> (s.sv[x] - b.centroid[x]) * (s.sv[x] - b.centroid[x])))")
    parts = [f"""
    WITH v AS (
      SELECT vec_id AS id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS qv,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             CAST(len(embedding) // {m} AS INT) AS sl
      FROM embeddings
    ),
    c0 AS (
      SELECT cell, qv AS centroid FROM (
        SELECT CAST(row_number() OVER (ORDER BY id) AS INT) AS cell, qv, id
        FROM v{tw}) WHERE cell <= {n_cells}
    )"""]
    for i in range(1, ivf_iters + 1):
        parts.append(f""",
    a{i} AS (
      SELECT id, cell, qv FROM (
        SELECT s.id, b.cell, s.qv,
               row_number() OVER (PARTITION BY s.id
                                  ORDER BY {cosq} DESC, b.cell ASC) AS rn
        FROM v s, c{i - 1} b{tw}) WHERE rn = 1
    ),
    r{i} AS (
      SELECT cell, u.pos AS pos,
             CAST(FLOOR(SUM(qv[u.pos]) / COUNT(*) + 0.5) AS BIGINT) AS mval
      FROM a{i}, unnest(generate_series(1, len(qv))) u(pos)
      GROUP BY cell, u.pos
    ),
    c{i} AS (SELECT cell, list(mval ORDER BY pos) AS centroid
             FROM r{i} GROUP BY cell)""")
    parts.append(f""",
    ca AS (
      SELECT id, cell FROM (
        SELECT s.id, b.cell,
               row_number() OVER (PARTITION BY s.id
                                  ORDER BY {cosq} DESC, b.cell ASC) AS rn
        FROM v s, c{ivf_iters} b) WHERE rn = 1
    ),
    qp AS (
      SELECT id, cell FROM (
        SELECT s.id, b.cell,
               row_number() OVER (PARTITION BY s.id
                                  ORDER BY {cosq} DESC, b.cell ASC) AS rn
        FROM v s, c{ivf_iters} b WHERE s.id < 5) WHERE rn <= {nprobe}
    ),
    subs AS (
      SELECT id, g.sub AS sub, qv[g.sub * sl + 1 : g.sub * sl + sl] AS sv
      FROM v, (SELECT unnest(generate_series(0, {m - 1})) AS sub) g
    ),
    seeds AS (SELECT sub, sv, MIN(id) AS mid FROM subs{tw}
              GROUP BY sub, sv),
    pb0 AS (
      SELECT sub, CAST(rn - 1 AS INT) AS code, sv AS centroid FROM (
        SELECT sub, sv,
               row_number() OVER (PARTITION BY sub ORDER BY mid) AS rn
        FROM seeds)
      WHERE rn <= {n_codes}
    )""")
    for i in range(1, pq_iters + 1):
        parts.append(f""",
    pa{i} AS (
      SELECT id, sub, code, sv FROM (
        SELECT s.id, s.sub, b.code, s.sv,
               row_number() OVER (PARTITION BY s.id, s.sub
                                  ORDER BY {pdist}, b.code) AS rn
        FROM subs s JOIN pb{i - 1} b USING (sub){tw})
      WHERE rn = 1
    ),
    pr{i} AS (
      SELECT sub, code, u.pos AS pos,
             CAST(FLOOR(SUM(sv[u.pos]) / COUNT(*) + 0.5) AS BIGINT) AS cx
      FROM pa{i}, unnest(generate_series(1, len(sv))) u(pos)
      GROUP BY sub, code, u.pos
    ),
    prc{i} AS (
      SELECT sub, code, list(cx ORDER BY pos) AS centroid
      FROM pr{i} GROUP BY sub, code
    ),
    pb{i} AS (
      SELECT * FROM prc{i}
      UNION ALL
      SELECT p.sub, p.code, p.centroid FROM pb{i - 1} p
      WHERE NOT EXISTS (SELECT 1 FROM prc{i} c
                        WHERE c.sub = p.sub AND c.code = p.code)
    )""")
    parts.append(f""",
    enc AS (
      SELECT id, sub, code FROM (
        SELECT s.id, s.sub, b.code,
               row_number() OVER (PARTITION BY s.id, s.sub
                                  ORDER BY {pdist}, b.code) AS rn
        FROM subs s JOIN pb{pq_iters} b USING (sub))
      WHERE rn = 1
    ),
    lut AS (
      SELECT s.id AS query_id, s.sub AS sub, b.code AS code, {pdist} AS d
      FROM subs s JOIN pb{pq_iters} b USING (sub)
      WHERE s.id < 5
    ),
    cand AS (
      SELECT qp.id AS query_id, ca.id AS neighbor_id, SUM(l.d) AS adc
      FROM qp JOIN ca USING (cell)
      JOIN enc e ON e.id = ca.id
      JOIN lut l ON l.query_id = qp.id AND l.sub = e.sub AND l.code = e.code
      WHERE qp.id <> ca.id
      GROUP BY qp.id, ca.id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc ASC, neighbor_id ASC) AS srk
        FROM cand) WHERE srk <= {refine * k}
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT sl.query_id, sl.neighbor_id,
             list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))) AS cos,
             row_number() OVER (PARTITION BY sl.query_id
               ORDER BY list_dot_product(q.emb, c.emb)
                 / (sqrt(list_dot_product(q.emb, q.emb))
                    * sqrt(list_dot_product(c.emb, c.emb))) DESC,
               sl.neighbor_id) AS rank
      FROM shortlist sl
      JOIN v q ON q.id = sl.query_id
      JOIN v c ON c.id = sl.neighbor_id)
    WHERE rank <= {k}
    ORDER BY query_id, rank""")
    return "".join(parts)


@query("similarity_ivfpq_topk",
       oracle=_ivfpq_oracle(16, 2, 8, 32, 2, 4, 16, 5))
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ ANN serving path (operators.similarity
    .ivfpq_topk): IVF cells bound which vectors a query touches, PQ
    codes + an ADC lookup table bound the bytes per touched vector
    (m bytes, floats never read in the scan), exact cosine re-rank on
    the 4k-deep shortlist restores accuracy — the billion-vector index
    layout end-to-end. Hash-certified since round 6: with IVF and PQ
    training both integer-exact, the unrolled _ivfpq_oracle replays the
    whole pipeline in SQL — 'approximate' survives only as the
    cells/codes design trades, made identically by both engines.
    Recall vs similarity_bruteforce_topk additionally pinned in
    tests/test_recall_sf01.py."""
    from big_data_project_implementation_spark.operators import similarity as sim

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    # m=8 (8-dim subvectors on dim-64), 32 codes, 16k-deep shortlist:
    # measured recall 0.88 at sf0.1 vs bruteforce (m=4/refine=4 gave
    # 0.52 — ADC resolution, not IVF routing, is the recall dial here)
    return sim.ivfpq_topk(
        qs, emb, k=5, nprobe=4, m=8, n_codes=32, refine=16
    ).orderBy("query_id", "rank")


@query("similarity_ivfpq_serve",
       oracle=_ivfpq_oracle(16, 2, 8, 32, 2, 4, 16, 5))
def similarity_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving from a PERSISTED IVF-PQ index (operators.similarity
    .build_ann_index → ivfpq_topk_from_index) — the split the inline
    similarity_ivfpq_topk docstring promises: training runs once and
    writes centroids/codebooks/cell-partitioned code lists to parquet;
    the query path contains NO Lloyd iterations, just two broadcast
    model scans, the cell-keyed code scan, the ADC LUT, and the exact
    re-rank. Same hyper-parameters as the inline query, and the serve
    half is literally the same function (_ivfpq_serve), so result
    parity with similarity_ivfpq_topk is exact
    (tests/test_round6_ops.py) and the same unrolled _ivfpq_oracle
    hash-certifies both; recall floor vs bruteforce pinned at
    sf0.1 with the inline path's. The index builds lazily on first use
    per sf_dir (bench's two-pass-min therefore times the serve path
    alone — the deployment-shape number). Cache safety (round 7): the
    path is keyed per-user, the build lands in a unique staging dir,
    and publication is a single atomic rename — concurrent runs
    (bench + correctness driver) race the rename, the loser discards
    its staging dir and serves the winner's complete index; a partial
    index is never visible under the final path."""
    from big_data_project_implementation_spark.operators import similarity as sim

    emb = t(spark, sf_dir, "embeddings")
    path = _ann_index_cached(emb, sf_dir)
    qs = emb.filter(F.col("vec_id") < 5)
    return sim.ivfpq_topk_from_index(
        qs, emb, path, k=5, nprobe=4, refine=16
    ).orderBy("query_id", "rank")


def _ann_index_cached(emb, sf_dir: str, variant: str = "") -> str:
    """Per-user cached IVF-PQ index path for ``sf_dir``, built lazily
    on first use (shared by the batch serve query and the round-8
    streaming serve query — same hyper-parameters, same oracle).

    v3: the _ANN_MANIFEST records the model shape and table schemas
    (v2: integer micro-unit centroids) — the version segment makes
    indexes built by older code rebuild instead of failing to serve.
    Cache safety (round 7 + ADVICE r7 TOCTOU re-check): the build
    lands in a unique staging dir and publication is a single atomic
    rename; a COMPLETE concurrent index (codes/_SUCCESS present at
    claim time) is served, never claimed-and-deleted mid-read; only a
    dead partial build (no _SUCCESS) is claimed via rename before
    deletion so two repairers never rmtree the same live path."""
    import getpass as _getpass
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    from big_data_project_implementation_spark.operators import similarity as sim

    path = _os.path.join(
        _tempfile.gettempdir(),
        "spark_graft_ann_index_v3_" + _getpass.getuser(),
        sf_dir.strip("/").replace("/", "_") + variant,
    )
    if not _os.path.exists(_os.path.join(path, "codes", "_SUCCESS")):
        stage = f"{path}.build-{_os.getpid()}-{_uuid.uuid4().hex[:8]}"
        sim.build_ann_index(emb, stage, n_cells=16, m=8, n_codes=32)
        if _os.path.exists(_os.path.join(path, "codes", "_SUCCESS")):
            _shutil.rmtree(stage, ignore_errors=True)
        else:
            if _os.path.exists(path):
                try:
                    _os.rename(path, stage + ".stale")
                    _shutil.rmtree(stage + ".stale", ignore_errors=True)
                except OSError:
                    pass  # someone else claimed/republished it
            try:
                _os.rename(stage, path)
            except OSError:
                _shutil.rmtree(stage, ignore_errors=True)
    return path


@query(
    "data_source_quota",
    oracle="""
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS qr
      FROM documents
    )
    WHERE qr <= 40
    ORDER BY doc_id
    """,
)
def data_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap, ≤ 40 docs per source kept in deterministic
    md5 order (operators.text.source_quota) — the anti-domination
    guardrail in corpus mixing: one source-key exchange + rank window,
    membership a pure function of ids so the kept set is reproducible
    across engines and partitionings."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return text.source_quota(d, max_per_source=40).orderBy("doc_id")


@query("text_bpe_encode", oracle=_bpe_encode_oracle(8))
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: encode the corpus with the BPE merges trained
    on it (operators.text.bpe_merges → bpe_encode, 8 rules) — the
    train→apply round trip of the pretraining tokenizer story. The
    greedy rank-first merge loop runs per DISTINCT word in an Arrow
    batch (corpus-sized work stays JVM-side). Converted from rows-only
    to a full hash-match oracle in round 6 (VERDICT r5 #2): the oracle
    re-trains the 8 rules in SQL and replays the greedy loop as a
    recursive CTE over the distinct words — the hot path itself is now
    hash-certified, not just the pytest fixtures;
    roundtrip/compression invariants remain in
    tests/test_round5_ops.py."""
    d = t(spark, sf_dir, "documents")
    merges = text.bpe_merges(d, steps=8)
    return (
        text.bpe_encode(d, merges)
        .select("doc_id", "n_tokens", "n_pieces")
        .orderBy("doc_id")
    )


@query("text_train_classifier")  # fp-sum order sensitivity → rows-only
def text_train_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quality-classifier TRAINING (operators.text
    .train_quality_classifier): full-batch logistic GD on hashed
    unigram features with weak labels (lang == 'en'), 5 iterations —
    the learn-the-filter half that hashed_linear_quality_score serves.
    One feature-build pass (checkpointed), then each iteration is a
    single map-side-combined n_features-row gradient aggregation —
    MLlib's treeAggregate loop, kept declarative. Monotone-loss +
    exact numpy-parity pinned in tests/test_round5_ops.py; the
    cross-partition double sums make the low bits partitioning-
    sensitive, hence rows-only here."""
    d = t(spark, sf_dir, "documents")
    return (
        text.train_quality_classifier(
            d, label=F.col("lang") == "en", n_features=64, iters=5
        )
        .select("iter", "loss", "grad_norm")
        .orderBy("iter")
    )


@query(
    "text_classifier_step_certified",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, w
      FROM (SELECT doc_id, lang,
                   unnest(string_split(lower(text), ' ')) AS w
            FROM documents WHERE text IS NOT NULL)
      WHERE w <> ''
    ),
    counts AS MATERIALIZED (
      SELECT doc_id, y,
             CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 64 AS pos,
             CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY doc_id, y, pos
    ),
    feat AS (
      SELECT doc_id, y, pos,
             (c * 1000000) // SUM(c) OVER (PARTITION BY doc_id) AS fq
      FROM counts
      UNION ALL
      SELECT DISTINCT doc_id, y, CAST(64 AS BIGINT), CAST(1000000 AS BIGINT)
      FROM counts
    ),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM counts)
    SELECT pos, CAST(SUM(fq * (1 - 2 * y)) AS BIGINT) AS g2n_q6, nd.n_docs
    FROM feat, nd GROUP BY pos, nd.n_docs ORDER BY pos
    """,
)
def text_classifier_step_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One integer-exact logistic gradient step (operators.text
    .classifier_gradient_step_q, round 7 — VERDICT r6 #7): at w = 0
    the sigmoid is exactly 0.5, so the first full-batch gradient is a
    rational with an exact bigint numerator once features are md5-
    hashed integer micro-unit relative frequencies — the one step of
    the trainer's treeAggregate loop an external engine can replay
    bit-for-bit, no libm anywhere. Certifies the tokenize → hash →
    normalize → map-side-combined component aggregation logic that
    `text_train_classifier`'s fp iterations (rows-only; numpy-parity
    + monotone-loss pytests) cannot hash-match."""
    d = t(spark, sf_dir, "documents")
    return text.classifier_gradient_step_q(
        d, label=F.col("lang") == "en", n_features=64
    )


@query(
    "text_unicode_nfc",
    oracle="""
    SELECT doc_id,
           nfc_normalize(text) <> text AS changed,
           CAST(len(text) AS BIGINT) AS n_chars_before,
           CAST(len(nfc_normalize(text)) AS BIGINT) AS n_chars_after,
           nfc_normalize(text) AS normalized
    FROM documents ORDER BY doc_id
    """,
)
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization audit (operators.text
    .unicode_normalize_audit): composed-vs-combining byte forms unify
    before any hash-based dedup. Spark side = Arrow-batched
    unicodedata.normalize (Python's reference UAX #15 implementation),
    oracle = DuckDB's nfc_normalize — the same spec implemented twice
    independently, hash-compared end to end."""
    d = t(spark, sf_dir, "documents")
    return text.unicode_normalize_audit(d).orderBy("doc_id")


@query(
    "text_heaps_curve",
    oracle="""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    firsts AS (
      SELECT w, MIN(LEAST(9, CAST(FLOOR(doc_id * 10.0 / n.n_docs) AS INT)))
                 AS first_b
      FROM (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS w
            FROM documents) , n
      WHERE w <> ''
      GROUP BY w
    ),
    per_bucket AS (
      SELECT first_b, CAST(count(*) AS BIGINT) AS new_words
      FROM firsts GROUP BY first_b
    )
    SELECT CAST(first_b AS BIGINT) AS bucket, new_words,
           CAST(SUM(new_words) OVER (ORDER BY first_b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS vocab_size
    FROM per_bucket ORDER BY bucket
    """,
)
def text_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve over corpus deciles
    (operators.text.heaps_curve): does more data still buy new
    vocabulary? One token shuffle — per-word first-occurrence bucket
    is an associative min, the curve a 10-row cumulative sum; no
    ordered corpus scan anywhere."""
    d = t(spark, sf_dir, "documents")
    return text.heaps_curve(d, buckets=10)


@query(
    "graph_k_core",
    oracle="""
    WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n FROM lineitem),
    e AS MATERIALIZED (
      SELECT DISTINCT a.n AS u, b.n AS v
      FROM m a JOIN m b ON a.g = b.g AND a.n < b.n
    ),
    s0 AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    a1 AS MATERIALIZED (SELECT u FROM s0 GROUP BY u HAVING count(*) >= 4),
    s1 AS MATERIALIZED (SELECT s.u, s.v FROM s0 s
           JOIN a1 x ON s.u = x.u JOIN a1 y ON s.v = y.u),
    a2 AS MATERIALIZED (SELECT u FROM s1 GROUP BY u HAVING count(*) >= 4),
    s2 AS MATERIALIZED (SELECT s.u, s.v FROM s1 s
           JOIN a2 x ON s.u = x.u JOIN a2 y ON s.v = y.u),
    a3 AS MATERIALIZED (SELECT u FROM s2 GROUP BY u HAVING count(*) >= 4),
    s3 AS MATERIALIZED (SELECT s.u, s.v FROM s2 s
           JOIN a3 x ON s.u = x.u JOIN a3 y ON s.v = y.u),
    a4 AS MATERIALIZED (SELECT u FROM s3 GROUP BY u HAVING count(*) >= 4),
    s4 AS MATERIALIZED (SELECT s.u, s.v FROM s3 s
           JOIN a4 x ON s.u = x.u JOIN a4 y ON s.v = y.u),
    a5 AS MATERIALIZED (SELECT u FROM s4 GROUP BY u HAVING count(*) >= 4),
    s5 AS MATERIALIZED (SELECT s.u, s.v FROM s4 s
           JOIN a5 x ON s.u = x.u JOIN a5 y ON s.v = y.u),
    a6 AS MATERIALIZED (SELECT u FROM s5 GROUP BY u HAVING count(*) >= 4),
    s6 AS MATERIALIZED (SELECT s.u, s.v FROM s5 s
           JOIN a6 x ON s.u = x.u JOIN a6 y ON s.v = y.u)
    SELECT node, degree, converged FROM (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
      FROM s6 GROUP BY u HAVING count(*) >= 4
    ), (
      SELECT NOT EXISTS (
        SELECT 1 FROM s6 GROUP BY u HAVING count(*) < 4
      ) AS converged
    ) ORDER BY node
    """,
)
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the part co-purchase graph (operators.graph.k_core,
    6 synchronous peels — oracle unrolls the identical rounds): the
    link-graph denoiser that strips weakly-attached nodes; per round
    one degree count + endpoint semi-joins on the shrinking edge set.
    Round 7: convergence reported via the out-of-band ``converged``
    flag column (no surviving node under-degree) instead of the old
    in-band (-1, -1) sentinel row."""
    from big_data_project_implementation_spark.operators import graph

    li = t(spark, sf_dir, "lineitem")
    edges = graph.co_occurrence_edges(li, "l_orderkey", "l_partkey")
    return graph.k_core(edges, k=4, rounds=6)


def _bfs_oracle(threshold=0.8, seed_mod=10, max_dist=20) -> str:
    """Recursive-CTE oracle for graph_bfs_levels: the pagerank
    oracle's exact word-jaccard edge blocks, then DuckDB's recursive
    UNION (global (id, dist) dedup) bounded by max_dist, MIN(dist)
    per node — hop distances are integers end to end, so the replay
    is exact."""
    return _neardup_edge_ctes(threshold, recursive=True) + f""",
    reach(id, dist) AS (
      SELECT doc_id, 0 FROM documents WHERE doc_id % {seed_mod} = 0
      UNION
      SELECT s.v, r.dist + 1
      FROM reach r JOIN sym s ON s.u = r.id
      WHERE r.dist < {max_dist}
    )
    SELECT id AS doc_id, CAST(MIN(dist) AS BIGINT) AS dist
    FROM reach GROUP BY id ORDER BY doc_id"""


@query("graph_bfs_levels", oracle=_bfs_oracle())
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the exact word-jaccard near-dup graph
    (round 8, operators.graph.bfs_levels): hop distance from the
    doc_id%10 seed set — the traversal primitive the graph family
    lacked (reachability / contamination-radius: "everything within
    k hops of a flagged document"). Frontier-expansion rounds (one
    id-keyed join + one anti-join each, work ∝ frontier, rounds =
    diameter), terminated by the frontier going empty — the loop's
    own count, not a bolted-on probe. Distances are integers, so the
    DuckDB recursive-CTE oracle replays the traversal exactly."""
    from big_data_project_implementation_spark.operators import graph

    d = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, text_col="text", id_col="doc_id", k=1, threshold=0.8
    ).select("id_a", "id_b")
    seeds = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id")
    )
    return (
        graph.bfs_levels(pairs, seeds)
        .select(F.col("id").alias("doc_id"), "dist")
        .orderBy("doc_id")
    )


def _link_prediction_oracle(threshold=0.8, min_num=1, min_den=3) -> str:
    return _neardup_edge_ctes(threshold) + f""",
    deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
                         FROM sym GROUP BY u),
    inter AS (
      SELECT x.v AS a, y.v AS b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM sym x JOIN sym y ON x.u = y.u AND x.v < y.v
      GROUP BY x.v, y.v
    ),
    cand AS (
      SELECT i.* FROM inter i
      LEFT JOIN e0 ON e0.ia = i.a AND e0.ib = i.b
      WHERE e0.ia IS NULL
    )
    SELECT c.a AS id_a, c.b AS id_b, c.inter,
           CAST(da.deg + db.deg - c.inter AS BIGINT) AS uni
    FROM cand c
    JOIN deg da ON da.u = c.a
    JOIN deg db ON db.u = c.b
    WHERE c.inter * {min_den} >= {min_num} * (da.deg + db.deg - c.inter)
    ORDER BY id_a, id_b"""


@query("graph_link_prediction", oracle=_link_prediction_oracle())
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the near-dup graph
    (round 8, operators.graph.link_prediction_jaccard): non-adjacent
    doc pairs whose neighbor sets overlap ≥ 1/3 — the missed-merge
    candidates of entity resolution (two docs near-matching the same
    third docs but not each other, the transitivity gap the
    threshold creates). Wedge enumeration keyed on the middle node
    (triangle_count's shuffle pattern, work ∝ wedge count) + one
    candidate-pair groupBy; the threshold is an exact integer
    cross-multiply, so the SQL oracle replays the whole scoring."""
    from big_data_project_implementation_spark.operators import graph

    d = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, text_col="text", id_col="doc_id", k=1, threshold=0.8
    ).select("id_a", "id_b")
    return graph.link_prediction_jaccard(pairs).orderBy("id_a", "id_b")


def _ppr_oracle(iters=8, d_num=8500, threshold=0.8, seed_mod=10) -> str:
    """Unrolled DuckDB oracle for graph_personalized_pagerank: the
    pagerank oracle's edge/degree blocks with the restart vector
    restricted to in-graph seeds — r0 is scale//|S| on seeds else 0,
    and the per-round teleport term is seed-only."""
    parts = [_neardup_edge_ctes(threshold) + f""",
    deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
    seeds AS MATERIALIZED (
      SELECT DISTINCT d.u FROM deg d
      JOIN documents s ON s.doc_id = d.u
      WHERE s.doc_id % {seed_mod} = 0
    ),
    ns AS (SELECT COUNT(*) AS n FROM seeds),
    tq AS (SELECT ({10000 - d_num} * 1000000000000) // (10000 * n) AS t
           FROM ns),
    r0 AS MATERIALIZED (
      SELECT d.u,
             CAST(CASE WHEN s.u IS NOT NULL
                       THEN 1000000000000 // ns.n ELSE 0 END AS BIGINT) AS rq
      FROM deg d LEFT JOIN seeds s ON s.u = d.u, ns
    )"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    m{i} AS MATERIALIZED (
      SELECT s.v AS u, SUM(r.rq // d.deg) AS mass
      FROM sym s JOIN r{i - 1} r ON r.u = s.u JOIN deg d ON d.u = s.u
      GROUP BY s.v
    ),
    r{i} AS MATERIALIZED (
      SELECT d.u,
             CAST((CASE WHEN sd.u IS NOT NULL THEN tq.t ELSE 0 END)
                  + ({d_num} * COALESCE(m.mass, 0)) // 10000 AS BIGINT) AS rq
      FROM deg d
      LEFT JOIN m{i} m ON m.u = d.u
      LEFT JOIN seeds sd ON sd.u = d.u, tq
    )""")
    parts.append(f"""
    SELECT u AS doc_id, rq AS rank_e12 FROM r{iters} ORDER BY doc_id""")
    return "".join(parts)


@query("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the doc_id%10 seed set over the
    exact near-dup graph (round 8,
    operators.graph.personalized_pagerank): random-walk-with-restart
    affinity to the seeds — BFS answers "how many hops", this
    answers "how much of the seeds' influence lands here", the
    related-item / seed-expansion score. Same integer fixed-point
    discipline as graph_pagerank (1e-12 units, div contributions,
    /10000 damping) with the restart vector restricted to in-graph
    seeds, so the unrolled oracle replays the walk verbatim."""
    from big_data_project_implementation_spark.operators import graph

    d = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, text_col="text", id_col="doc_id", k=1, threshold=0.8
    ).select("id_a", "id_b")
    seeds = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id")
    )
    return (
        graph.personalized_pagerank(pairs, seeds)
        .select(
            F.col("id").alias("doc_id"),
            F.floor(F.col("rank") * 1e12 + F.lit(0.5))
            .cast("long")
            .alias("rank_e12"),
        )
        .orderBy("doc_id")
    )


@query(
    "incremental_bm25_search",
    oracle="""
    WITH lens AS (
      SELECT doc_id AS id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
      FROM lens
    ),
    tf AS (
      SELECT id, word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id AS id,
                   UNNEST(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word IN ('customer', 'spark', 'vector')
      GROUP BY id, word
    ),
    dfreq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
    )
    SELECT tf.id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           ROUND(CAST(SUM(CAST(
             ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / stats.avgdl))
             AS DECIMAL(28,10))) AS DOUBLE), 6) AS score
    FROM tf
    JOIN dfreq USING (word)
    JOIN lens USING (id)
    CROSS JOIN stats
    GROUP BY tf.id
    ORDER BY doc_id
    """,
)
def incremental_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY-MAINTAINED lexical index (round 11; since round
    12 driven THROUGH the `operators.views.LexicalIndex` front door —
    VERDICT r11 #4 — so the dispatch layer sits under this oracle like
    MaterializedView's does; algebra:
    operators.text.lexical_index_state/_refresh/bm25_from_index): the
    inverted-index sufficient statistics (postings, doc lengths, doc
    frequencies, corpus scalars) are ALL mergeable under document
    arrivals, so the index over 80% of the corpus folds the remaining
    20% in at cost ∝ |Δ| + |vocab| — postings/lens append,
    docfreq/stats merge, the corpus is never rescanned. The query then
    scores from the MAINTAINED state; the ORACLE recomputes BM25 from
    the full corpus from scratch, so the hash match certifies every
    statistic through the scoring formula (a df off by one, a stale
    avgdl, or a missed posting all flip a 6-decimal score)."""
    from big_data_project_implementation_spark.operators.views import (
        LexicalIndex,
    )

    d = t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 5 != 0)
    delta = d.filter(F.col("doc_id") % 5 == 0)
    lx = LexicalIndex(text_col="text", id_col="doc_id")
    refreshed = lx.refresh(lx.compute(old), delta)
    return lx.search(refreshed, BM25_QUERY_TERMS).orderBy("doc_id")


@query(
    "incremental_bm25_retract",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
    ),
    lens AS (
      SELECT doc_id AS id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      FROM corpus
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
      FROM lens
    ),
    tf AS (
      SELECT id, word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id AS id,
                   UNNEST(string_split(lower(text), ' ')) AS word
            FROM corpus)
      WHERE word IN ('customer', 'spark', 'vector')
      GROUP BY id, word
    ),
    dfreq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
    )
    SELECT tf.id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           ROUND(CAST(SUM(CAST(
             ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / stats.avgdl))
             AS DECIMAL(28,10))) AS DOUBLE), 6) AS score
    FROM tf
    JOIN dfreq USING (word)
    JOIN lens USING (id)
    CROSS JOIN stats
    GROUP BY tf.id
    ORDER BY doc_id
    """,
)
def incremental_bm25_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style DELETION maintenance of the lexical index (round 11;
    since round 12 THROUGH `operators.views.LexicalIndex` — VERDICT
    r11 #4; algebra: operators.text.lexical_index_retract): purging
    every 7th document drops its postings and length row by broadcast
    anti probe and SUBTRACTS its doc-frequency and corpus-scalar
    contributions — counts are a group under addition, so unlike the
    min/max agg twin there is NO repair scan: a word whose last
    document died leaves the vocabulary by arithmetic alone. The
    ORACLE recomputes BM25 over the post-delete corpus; with every
    purged doc's terms gone from df, every SURVIVING document's idf
    shifts — the hash match certifies that global ripple, not just the
    local deletions."""
    from big_data_project_implementation_spark.operators.views import (
        LexicalIndex,
    )

    d = t(spark, sf_dir, "documents")
    dead = d.filter(F.col("doc_id") % 7 == 0)
    lx = LexicalIndex(text_col="text", id_col="doc_id")
    kept = lx.retract(lx.compute(d), dead)
    return lx.search(kept, BM25_QUERY_TERMS).orderBy("doc_id")
