"""Deduplication operators over `documents` (EXT, BASELINE.json north
star): exact hash-dedup, normalized dedup, n-gram Jaccard near-dup join,
MinHash-LSH and SimHash candidate generation.

Scale design (the 100 TB story):
- exact dedup = groupBy(md5(text)) — one shuffle on a 16-byte key, never
  on the text payload itself.
- n-gram Jaccard join = shingle -> explode -> self-join on shingle ->
  per-pair intersection counts. Quadratic in the worst case; bounded here
  by distinct-shingle fan-out. This is the *oracle-checkable* baseline.
- MinHash-LSH (operators/minhash.py) is the scale path: candidate pairs
  come from banded signature buckets (linear shuffle volume), then only
  candidates pay the exact-Jaccard verification. LSH bucket membership is
  engine-specific (xxhash64) -> rows-only driver check, plus a pytest
  recall check against the exact join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from transit_feed_etl_spark.caching import persist_tracked
from transit_feed_etl_spark.io import table, table_par
from transit_feed_etl_spark.operators import minhash as MH
from transit_feed_etl_spark.operators import textfns as TX
from transit_feed_etl_spark.operators.components import (
    components_sql,
    connected_components,
)
from transit_feed_etl_spark.operators.prefixfilter import jaccard_prefix_pairs
from transit_feed_etl_spark.registry import register

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\W+'), t -> t <> '')"
_SHINGLES_SQL = f"""
      SELECT doc_id,
             list_distinct(list_transform(range(1, GREATEST(LEN(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT MD5(text) AS text_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY MD5(text)
    ORDER BY canonical_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: group on content hash, keep min doc_id as
    canonical. The shuffle key is md5 (16 bytes), not the document text —
    at 100 TB the shuffle carries ~nothing."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("canonical_id")
    )


@register(
    "dedup_normalized",
    oracle="""
    SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS norm_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY canonical_id
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: case-fold + whitespace-collapse before
    hashing — catches trivially-reformatted copies."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(TX.doc_fingerprint("text").alias("norm_hash"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("canonical_id")
    )


_JACCARD_PAIRS_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    e AS (
      SELECT doc_id, UNNEST(sh) AS s FROM sh WHERE LEN(sh) > 0
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    sizes AS (SELECT doc_id, LEN(sh) AS n FROM sh)
    SELECT i.id_a, i.id_b,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.35
    ORDER BY id_a, id_b
    """


@register("neardup_jaccard_pairs", oracle=_JACCARD_PAIRS_SQL)
def neardup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup join: distinct word-3-gram shingle
    sets, pair intersection via shingle self-join, Jaccard >= 0.35.
    This is the exact baseline that the MinHash-LSH operator approximates."""
    # table_par: the single-row-group testdata file would serialize the
    # CPU-heavy shingle evaluation onto one core (io.py docstring).
    # The shingle-set relation feeds `sizes` (used on both broadcast
    # sides) and both sides of the shingle self-join: four references.
    sh = _shingle_sets(table_par(spark, sf_dir, "documents"))
    sizes = sh.select("doc_id", F.size("sh").alias("n"))
    # Inner explode drops empty arrays natively — no size() pre-filter.
    e = sh.select("doc_id", F.explode("sh").alias("s"))
    a = e.alias("a")
    b = e.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(sa), F.col("id_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("id_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.35)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


@register("minhash_lsh_candidates", oracle=_JACCARD_PAIRS_SQL)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pipeline (the 100 TB path): 64-perm MinHash
    signatures -> 16 bands x 4 rows -> band-bucket join for candidates ->
    exact Jaccard verification >= 0.35 on candidates only.

    Oracle: the exact-Jaccard SQL. LSH candidate generation is
    probabilistic by construction, but after the exact verification the
    output is (exact pairs) ∩ (candidates); on this testdata recall is
    exactly 1.0 at the 0.35 threshold (near-dup pairs sit at high
    Jaccard, where the 16x4 banding s-curve is ~1), verified at both
    sf0.001 and the driver's sf0.01 gate — so the value-level
    differential check is valid here. tests/test_dedup.py asserts the
    recall==1.0 precondition."""
    # no table_par: minhash_signature hash-partitions by doc_id itself.
    d = table(spark, sf_dir, "documents")
    return MH.minhash_lsh_pairs(
        d, id_col="doc_id", text_col="text", threshold=0.35, n_hashes=64, bands=16
    ).orderBy("id_a", "id_b")


# The xxhash64 SimHash queries carry BOUND-STYLE oracles, as the sketch
# queries do: xxhash64 does not exist in DuckDB and its inputs
# are the corpus tokens, so the raw fingerprints cannot be folded as
# literals (unlike ann_lsh_topk's data-independent hyperplanes). The
# checked columns are therefore exact portables the oracle recomputes
# (n_tokens, the portable-hash fingerprint, the md5 exact-dup relation)
# plus booleans asserting, IN-PLAN, the guarantees the xxhash pipeline
# must uphold (dup-consistency, cross-pipeline token agreement,
# pigeonhole completeness on the provable exact-dup subrelation). The
# IDENTICAL construction remains fully value-checked via
# `simhash_portable` / `simhash_portable_pairs` below.
@register(
    "simhash_neardup_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, LEN(list_distinct({_TOKS_SQL})) AS nt FROM documents
    ),
    td AS (
      SELECT d.doc_id, md5(d.text) AS dig
      FROM documents d JOIN toks t ON t.doc_id = d.doc_id
      WHERE t.nt > 0
    ),
    dd AS (
      SELECT x.doc_id, COUNT(*) AS n_exact_dups
      FROM td x JOIN td y ON y.dig = x.dig AND y.doc_id <> x.doc_id
      GROUP BY x.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(dd.n_exact_dups, 0) AS INT) AS n_exact_dups,
           COALESCE(dd.n_exact_dups, 0) > 0 AS has_exact_dup,
           TRUE AS exact_dups_all_found
    FROM td t LEFT JOIN dd ON dd.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection, bound-style checked: 64-bit xxhash64
    fingerprints -> pigeonhole banding on 4 x 16-bit chunks (any pair
    within Hamming distance 3 shares at least one exact chunk) -> exact
    popcount verification on candidates only.

    The xx pair set itself is not oracle-computable (engine-specific
    hash), so the registered result is per-document: the exact-dup
    relation (md5(text) equality among tokenized docs — fully
    oracle-recomputed: n_exact_dups, has_exact_dup) plus the in-plan
    guarantee boolean `exact_dups_all_found` — pigeonhole banding MUST
    surface every exact duplicate (identical text -> identical tokens
    -> identical fingerprint -> Hamming 0 -> shares all chunks), so a
    banding/verification bug that loses pairs flips it to false while
    the oracle pins TRUE. Token-less docs carry no SimHash signal and
    are excluded on both engines. The raw pair list stays covered by
    `simhash_portable_pairs` (full value oracle) and the pigeonhole
    test in tests/test_dedup.py.

    Scale: the banding join is the production path (chunk-keyed, the
    LSH shape); the audit columns add one digest self-join bounded by
    dup-family fan-out and one anti-join on (doc_id, partner) pairs."""
    d = table(spark, sf_dir, "documents")
    fps = persist_tracked(MH.simhash(d, id_col="doc_id", text_col="text"))
    pairs = MH.simhash_pairs(fps, max_hamming=3)
    partners = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("p")
    ).unionAll(pairs.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("p")))
    dig = d.select("doc_id", F.md5("text").alias("dig")).join(
        fps.select("doc_id"), "doc_id"
    )
    x, y = dig.alias("x"), dig.alias("y")
    dd = x.join(
        y,
        (F.col("x.dig") == F.col("y.dig")) & (F.col("x.doc_id") != F.col("y.doc_id")),
    ).select(F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("p"))
    ndups = dd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_exact_dups"))
    missing = (
        dd.join(partners, ["doc_id", "p"], "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_missing"))
    )
    return (
        fps.select("doc_id")
        .join(ndups, "doc_id", "left")
        .join(missing, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_exact_dups", F.lit(0)).cast("int").alias("n_exact_dups"),
            (F.coalesce("n_exact_dups", F.lit(0)) > 0).alias("has_exact_dup"),
            (F.coalesce("n_missing", F.lit(0)) == 0).alias("exact_dups_all_found"),
        )
        .orderBy("doc_id")
    )


_H60_SQL = "CAST(CAST(CONCAT('0x', SUBSTR(md5({tok}), 1, 15)) AS UBIGINT) AS BIGINT)"


def _simhash_portable_fp_sql() -> str:
    """Unrolled 60-bit SimHash in DuckDB SQL over portable_hash60."""
    votes = ",\n        ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j in range(60)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_distinct({_TOKS_SQL})) AS tok FROM documents
    ),
    h AS (SELECT doc_id, {_H60_SQL.format(tok="tok")} AS h FROM toks),
    v AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
        {votes}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash,
           CAST(n_tokens AS INT) AS n_tokens
    FROM v
    """


@register(
    "simhash_fingerprints",
    oracle="WITH fpq AS ("
    + _simhash_portable_fp_sql()
    + """)
    SELECT doc_id, n_tokens, simhash AS portable_simhash,
           TRUE AS dup_consistent, TRUE AS n_tokens_match
    FROM fpq ORDER BY doc_id
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit xxhash64 SimHash per document, bound-style checked: the
    exact yardstick columns are n_tokens and the PORTABLE 60-bit
    fingerprint (both recomputed by the oracle bit-for-bit), plus two
    in-plan guarantee booleans about the xx pipeline the oracle pins
    TRUE: `dup_consistent` (documents with identical text — md5
    partition — must share one xx fingerprint; flags nondeterministic
    tokenization or vote aggregation) and `n_tokens_match` (the xx and
    portable pipelines, built as independent subtrees, must agree on
    the distinct-token count). The raw xx fingerprints stay
    pytest-covered (determinism, Hamming contract) and the identical
    construction is fully value-oracled via `simhash_portable`.

    Scale: two n_bits-conditional-sum aggregations (one per hash) and
    one digest-partition window bounded by dup-family size."""
    d = table(spark, sf_dir, "documents")
    xx = MH.simhash(d, id_col="doc_id", text_col="text")
    port = MH.simhash(
        d, id_col="doc_id", text_col="text", hash_fn=MH.portable_hash60, n_bits=60
    ).select(
        "doc_id",
        F.col("simhash").alias("portable_simhash"),
        F.col("n_tokens").alias("nt_p"),
    )
    dig = d.select("doc_id", F.md5("text").alias("dig"))
    wd = W.partitionBy("dig")
    return (
        xx.join(dig, "doc_id")
        .join(port, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "portable_simhash",
            (F.min("simhash").over(wd) == F.max("simhash").over(wd)).alias(
                "dup_consistent"
            ),
            (F.col("n_tokens") == F.col("nt_p")).alias("n_tokens_match"),
        )
        .orderBy("doc_id")
    )


@register(
    "simhash_portable",
    oracle=_simhash_portable_fp_sql() + "ORDER BY doc_id",
)
def simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over the md5-derived portable hash — the SAME
    sign-vote construction as simhash_fingerprints, but with a hash both
    engines compute identically, so the fingerprint VALUES (not just row
    shape) are differential-checked. Same scale design: n_bits
    conditional sums, one shuffle on doc id."""
    d = table(spark, sf_dir, "documents")
    return MH.simhash(
        d, id_col="doc_id", text_col="text", hash_fn=MH.portable_hash60, n_bits=60
    ).orderBy("doc_id")


@register(
    "simhash_portable_pairs",
    oracle=f"""
    WITH fp AS ({_simhash_portable_fp_sql()}),
    e AS (
      SELECT doc_id, simhash, t.c AS chunk,
             (simhash >> (15 * t.c)) & 32767 AS cval
      FROM fp CROSS JOIN (SELECT CAST(range AS INT) AS c FROM range(0, 4)) t
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM e a JOIN e b
      ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
    """,
)
def simhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-banded near-dup pairs over the portable 60-bit
    SimHash: 4 x 15-bit chunks (lossless at Hamming <= 3), exact
    popcount verification — the banding join itself is value-checked
    against DuckDB, closing the oracle gap the xxhash64 variant can't."""
    d = table(spark, sf_dir, "documents")
    fps = MH.simhash(
        d, id_col="doc_id", text_col="text", hash_fn=MH.portable_hash60, n_bits=60
    )
    return (
        MH.simhash_pairs(fps, max_hamming=3, n_chunks=4, chunk_bits=15)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_clusters",
    oracle=components_sql(_JACCARD_PAIRS_SQL, "doc_id")
    + """
    SELECT cc.doc_id, cc.canonical_id,
           CAST(COUNT(*) OVER (PARTITION BY cc.canonical_id) AS INT) AS cluster_size
    FROM cc
    ORDER BY canonical_id, doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup cluster resolution: near-dup PAIRS (exact
    Jaccard >= 0.35 via the prefix-filtered join) -> connected
    components -> one canonical id (component minimum) per document,
    with the cluster size. This is the step that turns pairwise
    similarity into an actual dedup decision (keep canonical, drop the
    rest); A~B~C chains collapse into one cluster even when A and C are
    not directly similar. Singleton docs (no near-dup) are not emitted.

    Value-level oracle: min-label propagation reaches the same fixpoint
    as DuckDB's recursive reachability CTE — the iteration strategy is
    engine-specific, the result is not."""
    cc = _jaccard_components(table_par(spark, sf_dir, "documents"))
    w = W.partitionBy("canonical_id")
    return (
        cc.withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("int"))
        .orderBy("canonical_id", "doc_id")
    )


@register("neardup_jaccard_prefix", oracle=_JACCARD_PAIRS_SQL)
def neardup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT Jaccard near-dup join
    (operators/prefixfilter.py): identical output to
    `neardup_jaccard_pairs`, but the candidate self-join runs only on
    each document's rare-first prefix shingles — the hot shingles that
    make the naive self-join quadratic never join. Recall is 1.0 by the
    prefix principle (not probabilistic like MinHash-LSH), so this is
    the exact scale path; same oracle as the naive join."""
    return _prefix_pairs(table_par(spark, sf_dir, "documents")).orderBy(
        "id_a", "id_b"
    )


def _shingle_sets(d: DataFrame) -> DataFrame:
    """(doc_id, sh): each document's distinct word-3-gram set, cached
    (a tracked cache, released after the query's action). Tokens are
    projected as an attribute first and shingled over it: inlining
    tokens() into the shingle lambda re-tokenizes the doc per
    element_at call (~100x measured, operators/minhash.py)."""
    toks = d.select("doc_id", TX.tokens("text").alias("toks"))
    return persist_tracked(
        toks.select(
            "doc_id", F.array_distinct(TX.word_shingles(F.col("toks"), 3)).alias("sh")
        )
    )


def _prefix_pairs(d: DataFrame) -> DataFrame:
    """Exact Jaccard >= 0.35 pairs of `d`'s documents by the prefix-filtered
    join. The shingle cache feeds the frequency agg, the prefix ranking
    and both verification sides, so it is materialized BEFORE the join
    references it: otherwise the branches race to fill it and each
    recomputes the CPU-heavy shingle pipeline (measured 5.8s -> 3.3s
    warm at sf0.1)."""
    sh = _shingle_sets(d)
    sh.count()
    return jaccard_prefix_pairs(sh, id_col="doc_id", set_col="sh", threshold=0.35)


def _jaccard_components(d: DataFrame) -> DataFrame:
    """(doc_id, canonical_id) for every document with a near-duplicate:
    `_prefix_pairs` resolved into connected components, canonical id =
    component minimum. The pair relation is cached because the
    component loop re-reads its edge input every round; an uncached
    edge lineage would replay the whole shingle pipeline per round
    (measured: minutes -> seconds at sf0.1)."""
    pairs = persist_tracked(_prefix_pairs(d))
    return connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("canonical_id")
    )


@register(
    "dedup_keep_best",
    oracle=components_sql(_JACCARD_PAIRS_SQL, "doc_id")
    + """,
    j AS (
      SELECT cc.doc_id, cc.canonical_id, d.n_chars
      FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    ),
    r AS (
      SELECT canonical_id, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY canonical_id
               ORDER BY n_chars DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY canonical_id) AS n
      FROM j
    )
    SELECT canonical_id, doc_id AS survivor_doc_id,
           CAST(n AS INT) AS cluster_size, CAST(n - 1 AS INT) AS n_dropped
    FROM r WHERE rn = 1
    ORDER BY canonical_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION stage: per near-dup cluster keep the
    best-quality document (longest n_chars, doc_id tie-break) and count
    the drops — candidates -> clusters -> survivor selection is the
    complete near-dup pipeline a training corpus actually runs. The
    survivor pick is one max_by aggregate over the cluster labels (no
    window over the corpus); quality metadata joins in by doc key."""
    d = table_par(spark, sf_dir, "documents")
    cc = _jaccard_components(d)
    withq = cc.join(d.select("doc_id", "n_chars"), "doc_id")
    return (
        withq.groupBy("canonical_id")
        .agg(
            F.max_by(
                "doc_id",
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd")),
            ).alias("survivor_doc_id"),
            F.count(F.lit(1)).cast("int").alias("cluster_size"),
            (F.count(F.lit(1)) - 1).cast("int").alias("n_dropped"),
        )
        .orderBy("canonical_id")
    )


@register(
    "softdedup_weights",
    oracle=components_sql(_JACCARD_PAIRS_SQL, "doc_id")
    + """,
    sz AS (SELECT canonical_id, COUNT(*) AS n FROM cc GROUP BY canonical_id),
    j AS (
      SELECT d.doc_id,
             COALESCE(cc.canonical_id, d.doc_id) AS canonical_id,
             COALESCE(sz.n, 1) AS cluster_size
      FROM documents d
      LEFT JOIN cc ON cc.doc_id = d.doc_id
      LEFT JOIN sz ON sz.canonical_id = cc.canonical_id
    ),
    eff AS (
      SELECT CAST(SUM(1000000 // cluster_size) AS BIGINT) AS eff_docs_micro
      FROM j
    )
    SELECT j.doc_id, j.canonical_id,
           CAST(j.cluster_size AS INT) AS cluster_size,
           CAST(1000000 // j.cluster_size AS BIGINT) AS weight_micro,
           (SELECT eff_docs_micro FROM eff) AS eff_docs_micro
    FROM j
    ORDER BY j.doc_id
    """,
)
def softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT deduplication (the SlimPajama/D4-style alternative to
    dropping): every document stays in the corpus but near-duplicate
    clusters share one document's worth of sampling mass — per-doc
    training weight 1/cluster_size, singletons weight 1. Down-weighting
    preserves rare in-cluster variation that hard dedup
    (`dedup_keep_best`) discards, while still flattening boilerplate:
    the epoch-level expected contribution of a 1000-copy template is
    one document. Output is the per-doc weight table a sampling loader
    consumes (doc_id, canonical_id, cluster_size, weight) plus the
    corpus EFFECTIVE size Σ weights — the number that replaces raw doc
    count in epoch budgeting.

    Weights are exact integers (micro-units, 1000000 div cluster_size),
    so the per-doc values and the corpus-wide effective-size sum are
    order-independent and engine-exact — no float division anywhere.

    Scale design: identical pair/CC machinery to `dedup_clusters`
    (prefix-filtered exact-Jaccard pairs -> min-label propagation, all
    key-width rounds); the weight assignment is one doc_id-keyed left
    join of the corpus id list against the (smaller) clustered set plus
    a canonical-keyed size aggregate — both key-width — and the
    effective size reduces to ONE broadcast row. Value-level oracle:
    the recursive reachability CTE + the same integer weight law."""
    d = table_par(spark, sf_dir, "documents")
    cc = _jaccard_components(d)
    sz = cc.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("n"))
    j = (
        d.select("doc_id")
        .join(cc, "doc_id", "left")
        .join(sz, "canonical_id", "left")
        .select(
            "doc_id",
            F.coalesce("canonical_id", "doc_id").alias("canonical_id"),
            F.coalesce("n", F.lit(1)).alias("cluster_size"),
        )
    )
    j = j.withColumn(
        "weight_micro", F.expr("1000000 div cluster_size").cast("bigint")
    )
    eff = j.agg(F.sum("weight_micro").cast("bigint").alias("eff_docs_micro"))
    return (
        j.crossJoin(F.broadcast(eff))
        .select(
            "doc_id",
            "canonical_id",
            F.col("cluster_size").cast("int").alias("cluster_size"),
            "weight_micro",
            "eff_docs_micro",
        )
        .orderBy("doc_id")
    )


@register(
    "sorted_neighborhood_pairs",
    oracle="""
    WITH r AS (
      SELECT c_custkey, c_name,
             ROW_NUMBER() OVER (ORDER BY c_name) AS rn
      FROM customer
    )
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS lev
    FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 2
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    ORDER BY custkey_a, custkey_b
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking — the third candidate-generation
    family next to LSH banding (minhash.py) and pigeonhole blocking
    (prefixfilter.py): sort by the match key, compare each record only
    to its w=2 successors. Scale plan: the global sort rank comes from
    operators/ranking.py global_rank (range partition + offsets — NO
    single-task window sort), and the neighbor window becomes a block
    EQUI-join (block = rank div w; a row meets only blocks k and k+1),
    so candidates are bounded at 2w per row. The oracle is the plain
    single-window ROW_NUMBER + rank-difference self-join, so parity
    proves both the distributed rank and the block rewrite exact."""
    from transit_feed_etl_spark.operators.ranking import global_rank

    w = 2
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    r = global_rank(c, ["c_name"], rank_col="rn")
    blk = ((F.col("rn") - 1) / w).cast("long")
    a = r.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.array(blk, blk + 1)).alias("blk"),
    )
    b = r.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
        F.col("rn").alias("rn_b"),
        blk.alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter((F.col("rn_b") - F.col("rn_a")).between(1, w))
        .withColumn("lev", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("lev") <= 2)
        .select("custkey_a", "custkey_b", "lev")
        .orderBy("custkey_a", "custkey_b")
    )


@register(
    "cluster_aware_split",
    oracle=components_sql(_JACCARD_PAIRS_SQL, "doc_id")
    + """,
    canon AS (
      SELECT d.doc_id, COALESCE(cc.canonical_id, d.doc_id) AS canonical_id
      FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
    ),
    s AS (
      SELECT doc_id, canonical_id,
             CASE WHEN h % 100 < 90 THEN 'train'
                  WHEN h % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, canonical_id,
               CAST(CAST(CONCAT('0x', SUBSTR(md5(CAST(canonical_id AS VARCHAR)), 1, 15))
                    AS UBIGINT) AS BIGINT) AS h
        FROM canon
      )
    )
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT canonical_id) AS n_clusters
    FROM s GROUP BY split
    ORDER BY split
    """,
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE dataset split: hash the near-dup CLUSTER's canonical
    id, not the document id, so every member of a duplicate family lands
    in the same train/val/test split BY CONSTRUCTION — hashing doc ids
    (dataset_split_assignment) lets two near-identical documents straddle
    the train/test boundary, the classic eval-contamination bug that
    `cross_split_contamination` can only detect after the fact; this
    query prevents it structurally.

    Pipeline: prefix-filtered exact Jaccard pairs -> connected components
    -> canonical id (singletons map to themselves) -> portable-hash
    90/5/5 assignment on the canonical id -> per-split doc/cluster audit.
    Deterministic and incremental like every hash split here: new
    documents never flip old assignments unless they join a cluster."""
    from transit_feed_etl_spark.operators.minhash import portable_hash60

    d = table_par(spark, sf_dir, "documents")
    cc = _jaccard_components(d)
    canon = d.select("doc_id").join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("canonical_id", "doc_id").alias("canonical_id"),
    )
    h = portable_hash60(F.col("canonical_id").cast("string")) % 100
    split = F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    return (
        canon.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical_id").alias("n_clusters"),
        )
        .orderBy("split")
    )


# Batch face of streaming/corpus_dedup.py, so the streaming component
# has a value-oracled registered query too: the persistent digest store
# modeled as an accumulating DataFrame, K micro-batches unrolled as K
# anti-join+append rounds in ONE plan, each round the `dedup_round` the
# foreachBatch body runs, so its oracle row attests that plan.
_CORPUS_DEDUP_K = 4


def dedup_round(
    batch: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pure-plan core of one dedup round, run by the streaming
    foreachBatch body (streaming/corpus_dedup.py) and by
    `corpus_dedup_rounds`, the oracle-checked face of this operator:
    in-batch first-seen (lowest id per md5 digest), then a left-anti
    join against the `seen` digest store (one `digest` column). Returns
    the surviving rows with their `_digest` column attached so the
    caller can append it to the store."""
    digests = batch.withColumn("_digest", F.md5(F.col(text_col)))
    rn = F.row_number().over(W.partitionBy("_digest").orderBy(id_col))
    firsts = digests.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
    return firsts.join(
        seen, firsts["_digest"] == seen["digest"], "left_anti"
    )

_CORPUS_DEDUP_ORACLE = f"""
    WITH b AS (
      SELECT doc_id,
             CAST(doc_id % {_CORPUS_DEDUP_K} AS INT) AS batch_id,
             md5(COALESCE(text, '')) AS digest
      FROM documents
    ),
    r AS (
      SELECT doc_id, batch_id, digest,
             ROW_NUMBER() OVER (PARTITION BY digest
                                ORDER BY batch_id, doc_id) AS rn
      FROM b
    )
    SELECT doc_id, batch_id, digest FROM r WHERE rn = 1 ORDER BY doc_id
"""


@register("corpus_dedup_rounds", oracle=_CORPUS_DEDUP_ORACLE)
def corpus_dedup_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical corpus dedup unrolled as micro-batch rounds — the
    batch twin of `streaming/corpus_dedup.py`. The documents table is
    split into K deterministic micro-batches (batch_id = doc_id % K,
    processed in batch order, the arrival order a crawl spool would
    deliver); each round runs `dedup_round`, as the foreachBatch body does
    (in-batch first-seen per md5 digest, then a left-anti join against
    the digest store accumulated from every PRIOR round's survivors),
    and the store grows by the round's fresh digests — the exact
    foreachBatch body of `dedup_batch_against_store`, minus the parquet
    I/O, chained lazily into one plan.

    The ORACLE is deliberately NOT a replay of the rounds: it computes
    global-history first-seen directly (one window ordered by
    (batch_id, doc_id) per digest), so the parity check proves the
    incremental unrolled rounds IMPLEMENT the from-scratch semantics —
    the same merge-law framing as `incremental_agg_merge`'s
    full-recompute oracle. NULL text is canonicalized to '' before
    hashing on both sides (md5(NULL) is NULL in both engines, and
    null-keyed anti-join/window semantics diverge — the streaming path
    documents the same precondition).

    Scale: each round's anti-join keys on 32-hex digests (the
    dedup_exact width contract — bodies never ride the store join); at
    100 TB the store is a digest-prefix-partitioned table and each
    round co-partitions against it (see streaming/corpus_dedup.py's
    module doc). K is fixed, corpus-independent plan depth."""
    d = table_par(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        (F.col("doc_id") % _CORPUS_DEDUP_K).cast("int").alias("batch_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    # The round-k digest store, as a MEMBERSHIP set, equals the digests
    # of ALL documents in batches < k — not just the survivors: a
    # round's survivors are exactly the first occurrence of each digest
    # new to the history, so the union of survivors' digests over
    # rounds < k and the multiset of all batch-(< k) digests have the
    # same distinct set, and a LEFT ANTI join is insensitive to
    # right-side multiplicity. The store argument therefore comes from
    # ONE narrow persisted (doc_id, batch_id, digest) relation filtered
    # per round, not K persisted survivor frames anti-joined as a
    # growing k-branch union (K cache materializations and union
    # build-side scans per pass, guide §2.3/§1.2). Each round
    # still runs the foreachBatch body's `dedup_round` (the
    # driver-row-attests-the-foreachBatch-plan construction); the
    # equality above is what lets the batch twin hand it a cheaper
    # frame with identical anti-join semantics — and the oracle is the
    # from-scratch global recompute either way. Digest width is
    # preserved: the cache carries (doc_id, batch_id, 32-hex digest),
    # 54.8 B/rec (text never enters it).
    digests = persist_tracked(
        base.select(
            "doc_id", "batch_id", F.md5(F.col("text")).alias("digest")
        )
    )
    survivors: list[DataFrame] = []
    for k in range(_CORPUS_DEDUP_K):
        batch = base.filter(F.col("batch_id") == k)
        store = digests.filter(F.col("batch_id") < k).select("digest")
        fresh = dedup_round(batch, store).select(
            "doc_id", "batch_id", F.col("_digest").alias("digest")
        )
        survivors.append(fresh)
    out = survivors[0]
    for s in survivors[1:]:
        out = out.unionByName(s)
    return out.orderBy("doc_id")


# Incremental near-dup index maintenance: the MinHash-LSH analog of
# `corpus_dedup_rounds` — K micro-batch rounds query the accumulated
# band-bucket store for collisions, then append their own bands. A
# colliding pair (x, y) with round(x) < round(y) is found when y
# arrives (y's bands vs the store); an in-round pair by the in-batch
# self-join — so the union over rounds is EXACTLY the batch LSH
# candidate set, and after the same exact-Jaccard verification the
# output equals `minhash_lsh_candidates` row-for-row.
_LSH_ROUNDS_K = 4


@register("incremental_lsh_rounds", oracle=_JACCARD_PAIRS_SQL)
def incremental_lsh_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH index maintenance, unrolled: documents
    arrive in K=4 deterministic micro-batches (doc_id % K); each round
    (a) joins its band keys against the PERSISTENT band-bucket store
    accumulated from every prior round (new-vs-history candidates),
    (b) self-joins its own bands (in-round candidates), then (c)
    appends its bands to the store. Exact-Jaccard verification >= 0.35
    runs once over the union — identical machinery and identical
    OUTPUT to the batch `minhash_lsh_candidates` rebuild, proven by the
    shared exact-pairs oracle (the `incremental_agg_merge` /
    `corpus_dedup_rounds` merge-law framing, applied to the near-dup
    index). This is the 100 TB operational mode: a daily crawl
    increment queries + appends a persistent band store instead of
    re-sketching the whole corpus.

    Scale design: signatures are computed ONCE over the full input
    (each batch reads its slice of the cached signature relation); the
    store is (band, bkey, id) rows — 24 B/rec, co-partitionable by
    (band, bkey) so every round's collision join is key-width and
    co-located; in-batch and cross joins both ride band-bucket keys,
    never signatures or shingle sets. Band keys come from the SAME
    `lsh_band_keys` expression as the batch operator, so bucket
    assignment is byte-identical between the incremental and batch
    paths. Recall precondition as `minhash_lsh_candidates` (16x4
    banding s-curve ~1 at the 0.35 threshold on this corpus)."""
    d = table(spark, sf_dir, "documents")
    sigs = persist_tracked(
        MH.minhash_signature(d, "doc_id", "text", n_hashes=64)
    )
    e = persist_tracked(
        sigs.select(
            "_id",
            (F.col("_id") % _LSH_ROUNDS_K).cast("int").alias("_round"),
            MH.lsh_band_keys(64, 16).alias("_bk"),
        ).select("_id", "_round", F.posexplode("_bk").alias("_band", "_bkey"))
    )
    cand_frames: list[DataFrame] = []
    for k in range(_LSH_ROUNDS_K):
        batch = e.filter(F.col("_round") == k)
        if k:
            # The round-k store is ONE filter over the persisted band
            # cache, not a k-branch union of prior batches: the union
            # form rescanned the cache once per branch in every store
            # join's build (guide §2.3 — one predicate selects the same
            # rows). _round < k holds exactly rounds 0..k-1, so the
            # candidate set is byte-identical; round 0 has no history
            # and contributes no cross frame (the union of an empty
            # relation it previously carried).
            store = e.filter(F.col("_round") < k).select(
                F.col("_id").alias("id"),
                F.col("_band").alias("band"),
                F.col("_bkey").alias("bkey"),
            )
            cross = (
                batch.join(
                    store,
                    (batch["_band"] == store["band"])
                    & (batch["_bkey"] == store["bkey"]),
                )
                .select(
                    F.least(F.col("_id"), F.col("id")).alias("id_a"),
                    F.greatest(F.col("_id"), F.col("id")).alias("id_b"),
                )
            )
            cand_frames.append(cross)
        a, b = batch.alias("a"), batch.alias("b")
        inb = (
            a.join(
                b,
                (F.col("a._band") == F.col("b._band"))
                & (F.col("a._bkey") == F.col("b._bkey"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(
                F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
            )
        )
        cand_frames.append(inb)
    candidates = cand_frames[0]
    for f in cand_frames[1:]:
        candidates = candidates.unionByName(f)
    candidates = candidates.distinct()
    sh = sigs.select("_id", "_sh")
    pa, pb = sh.alias("pa"), sh.alias("pb")
    n_inter = F.size(F.array_intersect(F.col("pa._sh"), F.col("pb._sh")))
    n_union = F.size(F.col("pa._sh")) + F.size(F.col("pb._sh")) - n_inter
    jac = n_inter.cast("double") / n_union
    return (
        candidates.join(pa, F.col("id_a") == F.col("pa._id"))
        .join(pb, F.col("id_b") == F.col("pb._id"))
        .filter(n_union > 0)
        .filter(jac >= 0.35)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )
