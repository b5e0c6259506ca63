"""Data-cleaning operators for LLM training pipelines (EXT, north star):
PII redaction, intra-document repetition signals (Gopher-style), document
chunking for context windows, corpus-level n-gram heavy hitters, and a
pigeonhole-blocked fuzzy (edit-distance) join.

All hot paths are pure Catalyst expressions (higher-order array
functions, regexp_*) — JVM-side, codegen'd, no Python. The only shuffles
are the final small aggregations; the per-document work is
embarrassingly-parallel map, which is exactly the 100 TB shape.

Cross-engine determinism: regex patterns are restricted to the syntax
subset Java regex and RE2 (DuckDB) agree on (`\\d`, `\\w`, char classes,
bounded repeats); fingerprints use md5 (identical hex both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_feed_etl_spark.io import table, table_par
from transit_feed_etl_spark.operators import textfns as TX
from transit_feed_etl_spark.registry import register

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\W+'), t -> t <> '')"

# Regex subset valid AND equivalent in Java regex and RE2.
_EMAIL_RE = r"[a-z0-9#._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-\d{3}-555-\d{4}"


@register(
    "pii_redaction",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey,
             'reach ' || c_name || ' at ' || lower(c_name)
               || '@example.com or +1-'
               || lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0')
               || '-555-'
               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact
      FROM customer
    ),
    r AS (
      SELECT c_custkey, contact,
             regexp_replace(regexp_replace(contact, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                            '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
      FROM c
    )
    SELECT c_custkey,
           CAST(LEN(regexp_extract_all(contact, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(LEN(regexp_extract_all(contact, '{_PHONE_RE}')) AS INT) AS n_phones,
           CAST(LENGTH(contact) - LENGTH(redacted) AS INT) AS chars_removed,
           md5(redacted) AS redacted_md5
    FROM r
    ORDER BY c_custkey
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails + phone numbers -> placeholders) with per-row
    entity counts. The contact text is CONSTRUCTED deterministically from
    customer keys (the slim TPC-H schema carries no free-text PII), so the
    redaction path is exercised with non-zero hit counts and stays fully
    oracle-checkable. Map-only: zero shuffles; at 100 TB this is the
    canonical embarrassingly-parallel scrub pass."""
    c = table_par(spark, sf_dir, "customer")
    contact = F.concat(
        F.lit("reach "),
        F.col("c_name"),
        F.lit(" at "),
        F.lower("c_name"),
        F.lit("@example.com or +1-"),
        F.lpad((F.col("c_custkey") % 900 + 100).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    d = c.select("c_custkey", contact.alias("contact"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("contact"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "c_custkey",
        F.size(F.regexp_extract_all("contact", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("contact", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        (F.length("contact") - F.length(redacted)).cast("int").alias("chars_removed"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("c_custkey")


@register(
    "doc_repetition_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    b AS (
      SELECT doc_id, toks,
             list_transform(range(1, LEN(toks)),
                            i -> toks[i] || ' ' || toks[i + 1]) AS bgs
      FROM t
    )
    SELECT doc_id,
           CAST(LEN(toks) AS INT) AS n_tokens,
           ROUND(CASE WHEN LEN(toks) > 0
             THEN CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks)
             ELSE 0 END, 6) AS uniq_ratio,
           ROUND(CASE WHEN LEN(toks) > 0
             THEN CAST(list_max(list_transform(list_distinct(toks),
                    u -> LEN(list_filter(toks, x -> x = u)))) AS DOUBLE) / LEN(toks)
             ELSE 0 END, 6) AS top_token_share,
           CAST(CASE WHEN LEN(bgs) > 0
             THEN list_max(list_transform(list_distinct(bgs),
                    u -> LEN(list_filter(bgs, x -> x = u))))
             ELSE 0 END AS INT) AS top_bigram_n
    FROM b
    ORDER BY doc_id
    """,
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: distinct-token
    ratio, most-frequent-token share, most-frequent-bigram count. Computed
    with higher-order functions over the token array (O(tokens x distinct)
    per row but ZERO shuffle — pure map); for book-length documents the
    explode + partial-agg formulation trades that CPU for one doc_id
    shuffle. Boilerplate/template docs score low uniq_ratio and high
    top_*: the standard pre-training drop signals."""
    d = table_par(spark, sf_dir, "documents")
    d = d.withColumn("toks", TX.tokens("text"))
    d = d.withColumn("bgs", TX.word_shingles(F.col("toks"), 2))
    n = F.size("toks")
    nb = F.size("bgs")

    def _top_count(arr: str) -> F.Column:
        return F.array_max(
            F.transform(
                F.array_distinct(F.col(arr)),
                lambda u: F.size(F.filter(F.col(arr), lambda x: x == u)),
            )
        )

    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(
            F.when(n > 0, F.size(F.array_distinct("toks")).cast("double") / n)
            .otherwise(F.lit(0.0)),
            6,
        ).alias("uniq_ratio"),
        F.round(
            F.when(n > 0, _top_count("toks").cast("double") / n).otherwise(F.lit(0.0)),
            6,
        ).alias("top_token_share"),
        F.when(nb > 0, _top_count("bgs")).otherwise(F.lit(0)).cast("int").alias(
            "top_bigram_n"
        ),
    ).orderBy("doc_id")


_CHUNK, _STRIDE = 64, 48


@register(
    "chunk_documents",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             unnest(generate_series(0, (LENGTH(text) - 1) // {_STRIDE})) AS chunk_id,
             text
      FROM documents WHERE LENGTH(text) > 0
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(LENGTH(substring(text, chunk_id * {_STRIDE} + 1, {_CHUNK})) AS INT)
             AS n_chars,
           md5(substring(text, chunk_id * {_STRIDE} + 1, {_CHUNK})) AS chunk_md5
    FROM c
    ORDER BY doc_id, chunk_id
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-char chunks, stride 48 — the
    context-window prep step before tokenization/packing). sequence +
    transform builds chunk starts lazily, explode fans out one row per
    chunk: map-side only, no shuffle, and chunk count scales with text
    length so the explode never amplifies beyond len/stride. Chunk
    identity is md5 so the oracle hash-checks contents, not just shape."""
    d = table_par(spark, sf_dir, "documents").filter(F.length("text") > 0)
    starts = F.sequence(F.lit(0), F.floor((F.length("text") - 1) / F.lit(_STRIDE)))
    d = d.select("doc_id", "text", F.explode(starts).alias("chunk_id"))
    chunk = F.substring(
        F.col("text"), (F.col("chunk_id") * _STRIDE + 1).cast("int"), _CHUNK
    )
    return d.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.length(chunk).cast("int").alias("n_chars"),
        F.md5(chunk).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


@register(
    "top_bigrams_corpus",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    b AS (
      SELECT unnest(list_transform(range(1, LEN(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t
    )
    SELECT bigram, COUNT(*) AS n
    FROM b
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)
def top_bigrams_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: top-20 word bigrams (the exact
    formulation — boilerplate detection / contamination screening input).
    explode -> partial count (map-side combine) -> one shuffle keyed by
    bigram -> global top-k via TakeOrderedAndProject: the shuffle carries
    one row per DISTINCT bigram per partition, not per occurrence.
    Deterministic total order: (count DESC, bigram ASC)."""
    d = table_par(spark, sf_dir, "documents")
    # two-step projection: tokens as an attribute BEFORE the shingle
    # lambda — inlining tokens() into word_shingles re-tokenizes the doc
    # per element_at call (the ~100x trap, operators/minhash.py)
    toks = d.select(TX.tokens("text").alias("toks"))
    return (
        toks.select(F.explode(TX.word_shingles(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


_FUZZY_MAXKEY = 300


@register(
    "fuzzy_pairs_pigeonhole",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey < {_FUZZY_MAXKEY}
    )
    SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY a_key, b_key
    """,
)
def fuzzy_pairs_pigeonhole(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join: customer-name pairs within edit distance 1, via
    PIGEONHOLE BLOCKING — split each name into 2 halves; a pair within
    distance 1 must agree exactly on at least one half, so candidates come
    from two equi-joins (union, dedup) instead of a cross join, and
    levenshtein runs only on candidates. The oracle is the quadratic
    formulation — recall 1.0 is structural, not sampled. On this corpus
    the constant 'Customer#0000…' prefix makes the half-1 block hot
    (degenerate key, like any skewed join key); real deployments block on
    higher-entropy halves or salt hot blocks — the candidate set is still
    bounded by sum of block sizes squared, never n^2."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _FUZZY_MAXKEY)
        .select("c_custkey", "c_name")
    )
    c = c.withColumn(
        "h1", F.expr("substring(c_name, 1, cast(floor(length(c_name)/2) as int))")
    ).withColumn(
        "h2",
        F.expr("substring(c_name, cast(floor(length(c_name)/2) as int) + 1, length(c_name))"),
    )
    a = c.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_name"),
        F.col("h1").alias("a_h1"),
        F.col("h2").alias("a_h2"),
    )
    b = c.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_name").alias("b_name"),
        F.col("h1").alias("b_h1"),
        F.col("h2").alias("b_h2"),
    )
    cand1 = a.join(b, (F.col("a_h1") == F.col("b_h1")) & (F.col("a_key") < F.col("b_key")))
    cand2 = a.join(b, (F.col("a_h2") == F.col("b_h2")) & (F.col("a_key") < F.col("b_key")))
    cand = cand1.select("a_key", "b_key", "a_name", "b_name").union(
        cand2.select("a_key", "b_key", "a_name", "b_name")
    ).dropDuplicates(["a_key", "b_key"])
    dist = F.levenshtein("a_name", "b_name")
    return (
        cand.filter(dist <= 1)
        .select("a_key", "b_key", dist.cast("int").alias("dist"))
        .orderBy("a_key", "b_key")
    )


@register(
    "approx_top_bigrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    b AS (
      SELECT unnest(list_transform(range(1, LEN(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t
    )
    SELECT bigram, COUNT(*) AS est_count
    FROM b
    GROUP BY bigram
    ORDER BY est_count DESC, bigram ASC
    LIMIT 20
    """,
)
def approx_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter bigrams via the mergeable Misra-Gries sketch
    (operators/sketches.py): bounded counters per partition + one tiny
    merge — the 100 TB path when the distinct-bigram set no longer fits
    a groupBy shuffle.

    Value-oracled by the
    same move salted_count_distinct uses: choose the sketch size so the
    result is provably exact on the checked corpus, which is exactly
    what makes it oracle-checkable. k=1024 exceeds the corpus's distinct-
    bigram cardinality (916 at sf0.01; the 31-word vocabulary caps it at
    31^2=961 at ANY sf), so no MG decrement ever fires, est_count equals
    the true count, and the top-20 under the total (count DESC, bigram
    ASC) order equals DuckDB's exact top-20. The k < distinct regime —
    partition-order-dependent ESTIMATES but guaranteed recall of items
    with true count > N/(k+1), estimates never above true — is pinned by
    tests/test_properties.py on random inputs, where it belongs: the
    driver row now verifies the distributed two-stage merge plumbing at
    full value strength instead of row-count only."""
    from transit_feed_etl_spark.operators.sketches import misra_gries_topk

    d = table_par(spark, sf_dir, "documents")
    # two-step projection (see top_bigrams_corpus): tokens must be an
    # attribute before the shingle lambda references them
    toks = d.select(TX.tokens("text").alias("toks"))
    bgs = toks.select(F.explode(TX.word_shingles(F.col("toks"), 2)).alias("bigram"))
    return misra_gries_topk(bgs, "bigram", k=1024).limit(20)


@register(
    "cross_split_contamination",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp,
             CASE WHEN {{h}} % 100 < 90 THEN 'train'
                  WHEN {{h}} % 100 < 95 THEN 'val' ELSE 'test' END AS split
      FROM documents
    )
    SELECT t.doc_id AS test_doc_id, tr.doc_id AS train_doc_id, t.fp
    FROM s t JOIN s tr ON tr.fp = t.fp
    WHERE t.split = 'test' AND tr.split = 'train'
    ORDER BY test_doc_id, train_doc_id
    """.format(h="CAST(CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"),
)
def cross_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE detection: test-split documents whose
    normalized-content fingerprint also appears in the train split —
    the exact-dup cross-split check every eval pipeline must run
    (beyond `benchmark_contamination`'s n-gram overlap, this is the
    identity-level leak). One equi-join on the 32-byte fingerprint:
    shuffle carries digests, never bodies; at 100 TB this is the same
    shape as exact dedup."""
    from transit_feed_etl_spark.operators import minhash as MH

    d = table_par(spark, sf_dir, "documents")
    h = MH.portable_hash60(F.col("doc_id").cast("string")) % 100
    split = F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    fp = F.md5(F.trim(F.regexp_replace(F.lower("text"), rf"[{TX.WS}]+", " ")))
    s = d.select("doc_id", fp.alias("fp"), split.alias("split"))
    t = s.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc_id"), "fp"
    )
    tr = s.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc_id"), F.col("fp").alias("fp2")
    )
    return (
        t.join(tr, F.col("fp") == F.col("fp2"))
        .select("test_doc_id", "train_doc_id", "fp")
        .orderBy("test_doc_id", "train_doc_id")
    )


@register(
    "curation_pipeline_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents
    ),
    q AS (  -- stage 1: quality gate
      SELECT doc_id, lang, text, LEN(toks) AS n_tokens
      FROM t
      WHERE LEN(toks) >= 20
        AND CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks) >= 0.3
    ),
    d AS (  -- stage 2: exact dedup, keep lowest doc_id per fingerprint
      SELECT doc_id, lang, n_tokens FROM (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM q
      ) WHERE rn = 1
    ),
    s AS (  -- stage 3: deterministic split
      SELECT lang, n_tokens,
             CASE WHEN CAST(CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 100 < 90 THEN 'train'
                  WHEN CAST(CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 100 < 95 THEN 'val' ELSE 'test' END AS split
      FROM d
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM s GROUP BY split, lang ORDER BY split, lang
    """,
)
def curation_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation recipe as ONE Catalyst plan — quality gate
    (token count + uniqueness), exact dedup (lowest-id survivor per
    normalized fingerprint), deterministic train/val/test split, and the
    per-(split, lang) audit — composed from this repo's individual
    operators. One fingerprint-keyed window + one final groupBy; every
    stage is the scan-stage expression its standalone query uses, so
    Catalyst pipelines the gates into a single pass before the dedup
    shuffle. This is the 'run every night over the crawl' job shape."""
    from transit_feed_etl_spark.operators import minhash as MH

    d = table_par(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    d = d.withColumn("toks", toks).withColumn("n_tokens", F.size("toks"))
    q = d.filter(
        (F.col("n_tokens") >= 20)
        & (F.size(F.array_distinct("toks")).cast("double") / F.col("n_tokens") >= 0.3)
    )
    fp = F.md5(F.trim(F.regexp_replace(F.lower("text"), rf"[{TX.WS}]+", " ")))
    from pyspark.sql import Window as W

    w = W.partitionBy(fp).orderBy("doc_id")
    dd = q.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    h = MH.portable_hash60(F.col("doc_id").cast("string")) % 100
    split = F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    return (
        dd.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


def _compression_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DEFLATE stats: raw UTF-8 byte count, deflate(level=6)
    byte count, and the ratio scaled to an integer (FLOOR(1e6*comp/raw) —
    tie-free, same convention as the embedding score columns).

    Scale: embarrassingly-parallel map over Arrow batches
    (mapInPandas) — zero shuffle before the final ORDER BY; per-task
    memory is one Arrow batch; the per-row cost is one C-speed
    stdlib-zlib call. The 100 TB shape is identical to
    the multimodal decode stage (operators/multimodal.py)."""
    import pandas as pd  # local import: keep module import light

    d = table_par(spark, sf_dir, "documents").select("doc_id", "text")

    def score(batches):
        import zlib

        for pdf in batches:
            # encode once per row; both lengths derive from the same bytes
            encoded = pdf["text"].fillna("").map(lambda t: t.encode("utf-8"))
            raw = encoded.map(len)
            comp = encoded.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw.astype("int64"),
                    "deflate_bytes": comp.astype("int64"),
                    "ratio_e6": (comp * 1_000_000 // raw.clip(lower=1)).astype(
                        "int64"
                    ),
                }
            )

    return d.mapInPandas(
        score,
        schema="doc_id long, raw_bytes long, deflate_bytes long, ratio_e6 long",
    ).orderBy("doc_id")


@register(
    "doc_compression_ratio",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS raw_bytes,
           TRUE AS deflate_le_bound,
           TRUE AS deflate_ge_floor,
           TRUE AS ratio_consistent
    FROM documents ORDER BY doc_id
    """,
)
def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DEFLATE compression ratio — the classic
    compressibility quality signal (CCNet/Gopher lineage: highly
    compressible text is boilerplate/repetition, incompressible text is
    noise/binary junk; the keep-band sits in the middle).

    Partial value oracle:
    DuckDB has no zlib surface, so no SQL oracle can state the deflate
    length itself. The checked columns are the exact raw UTF-8 byte
    count (cross-checked against DuckDB octet_length(encode(..)) —
    catches Arrow-batch row-misalignment and encoding bugs in the
    mapInPandas path) plus three booleans the oracle asserts TRUE:
    deflate_bytes <= zlib compressBound(raw) and >= the minimal-stream
    floor, and the published ratio is arithmetically consistent with
    both lengths. The EXACT per-document deflate values stay pinned by
    `tests/test_curation.py::test_compression_ratio_matches_python_zlib_replay`
    replaying `doc_compression_ratio_full` through stdlib zlib.

    Scale notes: see _compression_scores."""
    full = _compression_scores(spark, sf_dir)
    raw = F.col("raw_bytes")
    # zlib compressBound: n + n/4096 + n/16384 + n/2^25 + 13 (upper
    # bound on deflate output for ANY input at any level)
    bound = (
        raw
        + F.floor(raw / 4096)
        + F.floor(raw / 16384)
        + F.floor(raw / 33554432)
        + 13
    )
    floor_len = F.when(raw == 0, F.lit(8)).otherwise(F.lit(9))
    return full.select(
        "doc_id",
        "raw_bytes",
        (F.col("deflate_bytes") <= bound).alias("deflate_le_bound"),
        (F.col("deflate_bytes") >= floor_len).alias("deflate_ge_floor"),
        (
            F.col("ratio_e6")
            == F.floor(
                F.col("deflate_bytes") * 1_000_000 / F.greatest(raw, F.lit(1))
            )
        ).alias("ratio_consistent"),
    ).orderBy("doc_id")


@register("doc_compression_ratio_full", oracle=None, driver_exempt=True)
def doc_compression_ratio_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-fidelity twin of `doc_compression_ratio` (driver-exempt):
    emits the raw deflate_bytes/ratio_e6 values no SQL oracle can state.
    Value contract: EXACT per-document replay through CPython's stdlib
    zlib — the same codec the engine's PNG path uses — plus ordering
    sanity (repetitive text compresses strictly better than
    high-entropy text), in tests/test_curation.py."""
    return _compression_scores(spark, sf_dir)


# URL variant suffixes, keyed by doc_id % 4: mixed-case host + default
# port + trailing slash + utm tracking, reordered params + utm, fragment,
# ref tracking + port + trailing slash. Groups of 4 consecutive doc_ids
# construct the SAME logical page so canonicalization must collapse them.
_URL_CANON_SQL = """
    WITH u AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'https://CDN' || CAST((doc_id // 4) % 5 AS VARCHAR)
                 || '.Example.com:443/docs/sec' || CAST((doc_id // 4) % 3 AS VARCHAR)
                 || '/page' || CAST(doc_id // 4 AS VARCHAR)
                 || '/?id=' || CAST(doc_id // 4 AS VARCHAR) || '&utm_source=x'
               WHEN 1 THEN 'https://cdn' || CAST((doc_id // 4) % 5 AS VARCHAR)
                 || '.example.com/docs/sec' || CAST((doc_id // 4) % 3 AS VARCHAR)
                 || '/page' || CAST(doc_id // 4 AS VARCHAR)
                 || '?utm_campaign=y&id=' || CAST(doc_id // 4 AS VARCHAR)
               WHEN 2 THEN 'https://cdn' || CAST((doc_id // 4) % 5 AS VARCHAR)
                 || '.example.com/docs/sec' || CAST((doc_id // 4) % 3 AS VARCHAR)
                 || '/page' || CAST(doc_id // 4 AS VARCHAR)
                 || '?id=' || CAST(doc_id // 4 AS VARCHAR) || '#section-2'
               ELSE 'https://cdn' || CAST((doc_id // 4) % 5 AS VARCHAR)
                 || '.example.com:443/docs/sec' || CAST((doc_id // 4) % 3 AS VARCHAR)
                 || '/page' || CAST(doc_id // 4 AS VARCHAR)
                 || '/?ref=feed&id=' || CAST(doc_id // 4 AS VARCHAR)
             END AS url
      FROM documents WHERE doc_id < 400
    ),
    parts AS (
      SELECT doc_id, url,
             regexp_extract(lower(url), '^([a-z]+)://', 1) AS proto,
             regexp_replace(
               regexp_extract(lower(url), '^[a-z]+://([^/?#]+)', 1),
               ':443$', '') AS host,
             regexp_replace(
               regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
               '/$', '') AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS query
      FROM u
    ),
    canon AS (
      SELECT doc_id, url,
             proto || '://' || host || path ||
             CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
      FROM (
        SELECT doc_id, url, proto, host, path,
               array_to_string(list_sort(list_filter(
                 string_split(query, '&'),
                 p -> p <> '' AND NOT starts_with(p, 'utm_')
                      AND NOT starts_with(p, 'ref='))), '&') AS kept
        FROM parts
      )
    )
    SELECT canonical_url,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_variants,
           CAST(COUNT(DISTINCT url) AS INT) AS n_distinct_raw
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_doc_id
"""


@register("url_canonical_dedup", oracle=_URL_CANON_SQL)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-curation FRONT DOOR:
    the same page arrives as many raw URLs (case-variant hosts, default
    ports, trailing slashes, tracking params in any order, fragments),
    and fetch/store dedup must collapse them BEFORE any content
    processing. Canonical form: lowercase protocol+host, strip the
    default :443 port, strip the trailing slash, drop the fragment,
    drop utm_*/ref tracking params, sort the surviving query params.
    Groups of 4 consecutive doc_ids construct the same logical page
    through 4 different raw shapes, so every canonical group must
    report n_variants=4 collapsing 4 distinct raw strings.

    Scale design: canonicalization is a pure scan-stage string
    projection (zero shuffle, whole-stage codegen; the doc_id filter and
    single-column read are plan-pinned at the parquet scan); the dedup
    is one canonical-keyed groupBy — the count-distinct integrity column
    adds Spark's standard two-phase rewrite, so the executed plan
    carries exactly TWO canonical-keyed exchanges (plan-pinned). URLs
    are short, but at 100 TB the same plan swaps the group key for
    md5(canonical) so the exchange carries 32-byte digests (the
    `dedup_exact` contract). Both engines
    run identical anchored regexes (the conservative Java/RE2-agreeing
    subset, same contract as `pii_redaction`) and an identical
    filter-sort-join param pipeline."""
    d = table_par(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    p = (F.col("doc_id") / 4).cast("long")
    host_n = (p % 5).cast("string")
    sec = (p % 3).cast("string")
    pg = p.cast("string")
    variants = [
        F.concat(
            F.lit("https://CDN"), host_n, F.lit(".Example.com:443/docs/sec"),
            sec, F.lit("/page"), pg, F.lit("/?id="), pg, F.lit("&utm_source=x"),
        ),
        F.concat(
            F.lit("https://cdn"), host_n, F.lit(".example.com/docs/sec"),
            sec, F.lit("/page"), pg, F.lit("?utm_campaign=y&id="), pg,
        ),
        F.concat(
            F.lit("https://cdn"), host_n, F.lit(".example.com/docs/sec"),
            sec, F.lit("/page"), pg, F.lit("?id="), pg, F.lit("#section-2"),
        ),
        F.concat(
            F.lit("https://cdn"), host_n, F.lit(".example.com:443/docs/sec"),
            sec, F.lit("/page"), pg, F.lit("/?ref=feed&id="), pg,
        ),
    ]
    mod = F.col("doc_id") % 4
    url = (
        F.when(mod == 0, variants[0])
        .when(mod == 1, variants[1])
        .when(mod == 2, variants[2])
        .otherwise(variants[3])
    )
    u = d.select("doc_id", url.alias("url"))
    proto = F.regexp_extract(F.lower("url"), r"^([a-z]+)://", 1)
    host = F.regexp_replace(
        F.regexp_extract(F.lower("url"), r"^[a-z]+://([^/?#]+)", 1), r":443$", ""
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[a-z]+://[^/?#]+([^?#]*)", 1), r"/$", ""
    )
    query = F.regexp_extract("url", r"\?([^#]*)", 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda t: (t != "")
                & ~t.startswith("utm_")
                & ~t.startswith("ref="),
            )
        ),
        "&",
    )
    canonical = F.concat(
        proto,
        F.lit("://"),
        host,
        path,
        F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
    )
    return (
        u.select("doc_id", "url", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("url").cast("int").alias("n_distinct_raw"),
        )
        .orderBy("canonical_doc_id")
    )


# Three deterministic page shells keyed by doc_id % 3, wrapping each
# document's REAL text: (0) full page with <main>, head script/style,
# nav and footer; (1) no <main> (body-path fallback) with an in-body
# tracking script and a visible &amp; entity token; (2) doubled style
# blocks, an HTML comment ad slot, and &nbsp; padding around the text.
# The shells are mirrored verbatim in the SQL oracle below.
_HTML_SHELL_SQL = """
      CASE doc_id % 3
        WHEN 0 THEN '<!DOCTYPE html><html><head><title>Doc '
          || CAST(doc_id AS VARCHAR)
          || '</title><style>body{font:12px}</style>'
          || '<script>var a=1;</script></head><body>'
          || '<nav><a href="/">home</a> <a href="/s">s</a></nav>'
          || '<main><p>' || COALESCE(text, '') || '</p></main>'
          || '<footer>&copy; corp</footer></body></html>'
        WHEN 1 THEN '<html><head><script type="text/javascript">'
          || 'track();</script></head><body><nav>' || chr(9)
          || 'menu</nav><div id="c"><p>&amp;</p><p>'
          || COALESCE(text, '') || '</p></div>'
          || '<script>late()</script><footer>x</footer></body></html>'
        ELSE '<html><head><style>.a{color:red}</style>'
          || '<style>.b{color:blue}</style></head><body><nav>n</nav>'
          || '<main><!-- ad slot --><p>&nbsp;' || COALESCE(text, '')
          || '&nbsp;</p></main><footer>f</footer></body></html>'
      END
"""

_HTML_EXTRACT_SQL = f"""
    WITH pages AS (
      SELECT doc_id, CAST(doc_id % 3 AS INT) AS variant,
             COALESCE(text, '') AS raw_text,
             {_HTML_SHELL_SQL} AS page
      FROM documents
    ),
    stripped AS (
      SELECT doc_id, variant, raw_text, page,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(page,
                 '(?s)<script.*?</script>', ' ', 'g'),
                 '(?s)<style.*?</style>', ' ', 'g'),
                 '(?s)<nav.*?</nav>', ' ', 'g'),
                 '(?s)<footer.*?</footer>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g') AS s
      FROM pages
    ),
    content AS (
      SELECT doc_id, variant, raw_text, page,
             CASE WHEN regexp_extract(s, '(?s)<main[^>]*>(.*?)</main>', 1) <> ''
                  THEN regexp_extract(s, '(?s)<main[^>]*>(.*?)</main>', 1)
                  ELSE regexp_extract(s, '(?s)<body[^>]*>(.*?)</body>', 1)
             END AS inner_html
      FROM stripped
    ),
    extracted AS (
      SELECT doc_id, variant, raw_text, page,
             trim(regexp_replace(
               replace(replace(replace(replace(
                 regexp_replace(inner_html, '<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
               '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS main_text
      FROM content
    )
    SELECT doc_id, variant, main_text,
           CAST(length(page) AS BIGINT) AS html_chars,
           CAST(length(main_text) AS BIGINT) AS text_chars,
           CAST(FLOOR((length(page) - length(main_text)) * 100.0
                      / length(page)) AS INT) AS boilerplate_pct,
           main_text = (
             CASE WHEN variant = 1 THEN
               CASE WHEN trim(regexp_replace(raw_text,
                      '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) = '' THEN '&'
                    ELSE '& ' || trim(regexp_replace(raw_text,
                      '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
               END
             ELSE trim(regexp_replace(raw_text,
                    '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
             END
           ) AS roundtrip_ok
    FROM extracted
    ORDER BY doc_id
"""


@register("html_boilerplate_extract", oracle=_HTML_EXTRACT_SQL)
def html_boilerplate_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal + main-content extraction — the standard
    crawl-curation stage between the `url_canonical_dedup` front door
    and the text-quality scorers: raw
    crawl payloads are HTML; every real pipeline strips
    script/style/nav/footer/comment blocks, prefers the <main> region
    (falling back to <body>), strips the remaining tags, decodes the
    common entities, and collapses whitespace BEFORE
    `text_token_stats` / `doc_quality_scores` ever run. The portable
    regexp core (trafilatura-style heuristics reduced to the
    Java/RE2-agreeing subset: dotall non-greedy block drops, tag strip,
    the pinned `textfns.WS` whitespace class) runs identically on both
    engines.

    Each document's REAL text is wrapped in one of three deterministic
    page shells (see `_HTML_SHELL_SQL`), so the in-plan `roundtrip_ok`
    column certifies per row that extraction recovered EXACTLY the
    whitespace-collapsed original text (variant 1 prepends its visible
    decoded '&' token) — the guarantee boolean pattern the sketch
    oracles use, here proving no content was eaten with the
    boilerplate. `boilerplate_pct` is the floor'd percent of page bytes
    removed.

    Scale design: one map-only scan-stage string pipeline — zero
    shuffles except the presentation orderBy (plan-pinned in
    tests/test_plan_contracts.py); at 100 TB this is the
    embarrassingly-parallel decode stage, the same shape as
    `pii_redaction`."""
    d = table_par(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    raw = F.coalesce(F.col("text"), F.lit(""))
    shells = [
        F.concat(
            F.lit("<!DOCTYPE html><html><head><title>Doc "), did,
            F.lit("</title><style>body{font:12px}</style>"),
            F.lit("<script>var a=1;</script></head><body>"),
            F.lit('<nav><a href="/">home</a> <a href="/s">s</a></nav>'),
            F.lit("<main><p>"), raw, F.lit("</p></main>"),
            F.lit("<footer>&copy; corp</footer></body></html>"),
        ),
        F.concat(
            F.lit('<html><head><script type="text/javascript">'),
            F.lit("track();</script></head><body><nav>\t"),
            F.lit('menu</nav><div id="c"><p>&amp;</p><p>'),
            raw, F.lit("</p></div>"),
            F.lit("<script>late()</script><footer>x</footer></body></html>"),
        ),
        F.concat(
            F.lit("<html><head><style>.a{color:red}</style>"),
            F.lit("<style>.b{color:blue}</style></head><body><nav>n</nav>"),
            F.lit("<main><!-- ad slot --><p>&nbsp;"), raw,
            F.lit("&nbsp;</p></main><footer>f</footer></body></html>"),
        ),
    ]
    mod = F.col("doc_id") % 3
    page = (
        F.when(mod == 0, shells[0]).when(mod == 1, shells[1]).otherwise(shells[2])
    )
    s = page
    for pat in (
        r"(?s)<script.*?</script>",
        r"(?s)<style.*?</style>",
        r"(?s)<nav.*?</nav>",
        r"(?s)<footer.*?</footer>",
        r"(?s)<!--.*?-->",
    ):
        s = F.regexp_replace(s, pat, " ")
    main_i = F.regexp_extract(s, r"(?s)<main[^>]*>(.*?)</main>", 1)
    body_i = F.regexp_extract(s, r"(?s)<body[^>]*>(.*?)</body>", 1)
    inner = F.when(main_i != "", main_i).otherwise(body_i)
    detagged = F.regexp_replace(inner, r"<[^>]*>", " ")
    decoded = detagged
    for ent, ch in (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">")):
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    main_text = F.trim(F.regexp_replace(decoded, rf"[{TX.WS}]+", " "))
    collapsed = F.trim(F.regexp_replace(raw, rf"[{TX.WS}]+", " "))
    expected = F.when(
        mod == 1,
        F.when(collapsed == "", F.lit("&")).otherwise(
            F.concat(F.lit("& "), collapsed)
        ),
    ).otherwise(collapsed)
    return (
        d.select(
            "doc_id",
            mod.cast("int").alias("variant"),
            main_text.alias("main_text"),
            F.length(page).cast("bigint").alias("html_chars"),
            F.length(main_text).cast("bigint").alias("text_chars"),
            F.floor(
                (F.length(page) - F.length(main_text))
                * 100.0
                / F.length(page)
            )
            .cast("int")
            .alias("boilerplate_pct"),
            (main_text == expected).alias("roundtrip_ok"),
        )
        .orderBy("doc_id")
    )


# Domain-level curation: 23 synthetic sites across three public
# suffixes (com/org/co.uk) and four subdomain shapes, so the
# registered-domain extraction has real work to do (PSL-lite: co.uk
# keeps three labels, everything else two) and the share accounting
# splits deterministically (doc_id % 23 gives 17 domains 22 docs and 6
# domains 21 docs over a 500-doc corpus). Mirrored verbatim below.
_DOMAIN_HOST_SQL = """
      (CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN ''
                       WHEN 2 THEN 'blog.' ELSE 'news.' END)
      || 'site' || CAST(doc_id % 23 AS VARCHAR)
      || (CASE (doc_id % 23) % 3 WHEN 0 THEN '.com'
                                 WHEN 1 THEN '.org' ELSE '.co.uk' END)
"""
# `u (doc_id, n_chars, host)` CTE and the registered-domain expression
# over its `host`, shared by every domain-family oracle.
_DOMAIN_U_SQL = f"""u AS (
      SELECT doc_id, n_chars, {_DOMAIN_HOST_SQL} AS host FROM documents
    )"""
_DOMAIN_SQL = """CASE WHEN host LIKE '%.co.uk'
                  THEN regexp_extract(host, '([^.]+\\.co\\.uk)$', 1)
                  ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
             END"""
# The portable 60-bit selection hash of doc_id, reduced to micro-units
# (`operators.minhash.portable_hash60` on the Spark side).
_MIX_HASH_SQL = """CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) % 1000000"""

_DOMAIN_STATS_SQL = f"""
    WITH {_DOMAIN_U_SQL},
    r AS (
      SELECT doc_id, n_chars, host,
             {_DOMAIN_SQL} AS domain
      FROM u
    ),
    tot AS (SELECT COUNT(*) AS n FROM r)
    SELECT domain,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT host) AS INT) AS n_hosts,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(FLOOR(COUNT(*) * 10000.0 / (SELECT n FROM tot)) AS INT)
             AS share_bp,
           CAST(FLOOR(COUNT(*) * 10000.0 / (SELECT n FROM tot)) AS INT) >= 430
             AS over_cap
    FROM r
    GROUP BY domain
    ORDER BY domain
"""


def _domain_rows(d: DataFrame) -> DataFrame:
    """(doc_id, n_chars, host, domain): the synthetic host of each
    document (`_DOMAIN_HOST_SQL`) and its registered domain (`_DOMAIN_SQL`)."""
    sub = F.col("doc_id") % 4
    site = F.col("doc_id") % 23
    host = F.concat(
        F.when(sub == 0, F.lit("www."))
        .when(sub == 1, F.lit(""))
        .when(sub == 2, F.lit("blog."))
        .otherwise(F.lit("news.")),
        F.lit("site"),
        site.cast("string"),
        F.when(site % 3 == 0, F.lit(".com"))
        .when(site % 3 == 1, F.lit(".org"))
        .otherwise(F.lit(".co.uk")),
    )
    return d.select("doc_id", "n_chars", host.alias("host")).withColumn(
        "domain",
        F.when(
            F.col("host").endswith(".co.uk"),
            F.regexp_extract("host", r"([^.]+\.co\.uk)$", 1),
        ).otherwise(F.regexp_extract("host", r"([^.]+\.[^.]+)$", 1)),
    )


@register("domain_doc_stats", oracle=_DOMAIN_STATS_SQL)
def domain_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain corpus accounting — the CCNet/RefinedWeb
    domain-level curation stage that runs right after the
    `url_canonical_dedup` front door: group the crawl by REGISTERED
    domain (public-suffix-aware host reduction, PSL-lite: multi-part
    suffixes like .co.uk keep three labels, everything else two) and
    report per-domain document counts, distinct hosts, byte totals, and
    the corpus share in basis points — with an `over_cap` flag for
    over-represented domains, the signal real pipelines use to cap any
    single domain's contribution to the training mix.

    Hosts are synthesized deterministically from doc_id (see
    _DOMAIN_HOST_SQL — the `url_canonical_dedup` testdata-shim
    pattern): four subdomain shapes x 23 sites x 3 suffixes, so
    www./blog./news. variants of one site must collapse into one
    registered domain while site7.com and site7.org stay distinct.

    Scale design: domain extraction is a scan-stage string projection;
    the corpus-wide exchange is ONE domain-keyed groupBy with partial
    aggregation (key-width: a short domain string per record); the
    corpus total is reduced to a single broadcast row (the
    `quality_threshold_prune` scalar pattern) so share accounting adds
    no second corpus pass. Determinism: share_bp is FLOOR'd to integer
    basis points, so the cross-engine compare never touches a raw
    double ratio."""
    r = _domain_rows(table_par(spark, sf_dir, "documents"))
    tot = r.agg(F.count(F.lit(1)).alias("n"))
    share = F.floor(F.col("n_docs") * 10000.0 / F.col("n")).cast("int")
    return (
        r.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").cast("int").alias("n_hosts"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n_docs",
            "n_hosts",
            "total_chars",
            share.alias("share_bp"),
            (share >= 430).alias("over_cap"),
        )
        .orderBy("domain")
    )


# Per-domain cap ENFORCEMENT, completing the accounting stage above:
# domain_doc_stats flags over-represented domains; this query actually
# applies the cap. Cap/salt constants shared with the oracle text.
_DOMAIN_CAP = 15
_DOMAIN_CAP_SALT = 8


@register(
    "domain_capped_sample",
    oracle=f"""
    WITH {_DOMAIN_U_SQL},
    r AS (
      SELECT doc_id, n_chars,
             {_DOMAIN_SQL} AS domain
      FROM u
    ),
    ranked AS (
      SELECT doc_id, domain, n_chars,
             CAST(ROW_NUMBER() OVER (PARTITION BY domain
                                     ORDER BY n_chars DESC, doc_id) AS INT)
               AS dom_rank
      FROM r
    )
    SELECT doc_id, domain, n_chars, dom_rank
    FROM ranked WHERE dom_rank <= {_DOMAIN_CAP}
    ORDER BY doc_id
    """,
)
def domain_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap ENFORCEMENT — the curation stage that
    `domain_doc_stats`'s over_cap flag feeds: keep at most CAP documents
    per registered domain, preferring longer documents (n_chars DESC, a
    quality proxy) with doc_id as the total tie-break, and emit the
    kept set with each doc's within-domain rank. This is the C4/
    RefinedWeb-style mix-control step that stops a single crawl-heavy
    domain from dominating the training mix.

    Scale design — the naive plan (one row_number window partitioned by
    domain) is a 100 TB hazard: registered domains are FEW and HEAVY (a
    big domain holds billions of docs and the window sorts each domain
    inside ONE task). The implementation is the salted two-phase top-N
    (the operators/skew.py pattern applied to ranking): phase 1 ranks
    within (domain, doc_id % SALT) groups and keeps CAP per salted
    group — the exchange fans every domain across SALT tasks and
    survivors are bounded by CAP x SALT per domain regardless of domain
    size; phase 2 re-ranks only those <= CAP x SALT x n_domains
    survivors per domain. Top-N per key is exactly preserved by the
    two-phase split (any doc in the global top-CAP of its domain is in
    the top-CAP of its salted group). The oracle is the single-window
    formulation, so parity also proves the two-phase law. Determinism:
    (n_chars DESC, doc_id) is a total order on both phases and both
    engines."""
    from pyspark.sql import Window as W

    r = _domain_rows(table_par(spark, sf_dir, "documents"))

    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    w1 = W.partitionBy("domain", (F.col("doc_id") % _DOMAIN_CAP_SALT)).orderBy(
        *order
    )
    survivors = (
        r.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= _DOMAIN_CAP)
        .drop("_r1")
    )
    w2 = W.partitionBy("domain").orderBy(*order)
    return (
        survivors.withColumn(
            "dom_rank", F.row_number().over(w2).cast("int")
        )
        .filter(F.col("dom_rank") <= _DOMAIN_CAP)
        .select("doc_id", "domain", "n_chars", "dom_rank")
        .orderBy("doc_id")
    )


# Temperature-weighted domain MIXING — the stage after accounting
# (domain_doc_stats) and capping (domain_capped_sample): decide how
# much of each domain actually enters the training mix. GPT-3/Pile
# style alpha-temperature flattening with alpha = 0.5: per-domain
# sampling mass w_d = sqrt(chars_d), so over-represented domains are
# down-sampled and the tail is up-weighted relative to raw share; the
# corpus-level token budget T = total_chars // 2 is split T·w_d/Σw
# per domain and converted to a deterministic hash acceptance test.
def _mix_domain_rows(d):
    """(doc_id, n_chars, domain, h): the shared per-doc relation of the
    mixing family — synthetic host from doc_id (the deterministic
    testdata shim for a URL column), registered-domain extraction, and
    the portable 60-bit selection hash reduced to micro-units. Kept
    expression-identical between `domain_mixture_sample` and
    `epoch_training_order` so both oracles share one SQL CTE shape."""
    from transit_feed_etl_spark.operators import minhash as MH

    return _domain_rows(d).withColumn(
        "h",
        MH.portable_hash60(F.col("doc_id").cast("string")) % 1000000,
    )


def _mix_domain_weights(r):
    """(domain, n_docs, total_chars, weight_micro): per-domain masses
    and FLOOR(sqrt(chars)*1e6) alpha=0.5 sampling weights — one
    ~23-key groupBy with map-side partials."""
    return r.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.floor(F.sqrt(F.sum("n_chars").cast("double")) * 1000000)
        .cast("bigint")
        .alias("weight_micro"),
    )



_MIX_BUDGET_DIV = 2  # target budget = total corpus chars // 2


@register(
    "domain_mixture_sample",
    oracle=f"""
    WITH {_DOMAIN_U_SQL},
    r AS (
      SELECT doc_id, n_chars,
             {_DOMAIN_SQL} AS domain,
             {_MIX_HASH_SQL} AS h
      FROM u
    ),
    dw AS (
      SELECT domain, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(FLOOR(SQRT(CAST(SUM(n_chars) AS DOUBLE)) * 1000000)
                  AS BIGINT) AS weight_micro
      FROM r GROUP BY domain
    ),
    g AS (
      SELECT CAST(SUM(weight_micro) AS BIGINT) AS m_sum,
             CAST(SUM(total_chars) AS BIGINT) // {_MIX_BUDGET_DIV} AS t_budget
      FROM dw
    ),
    sel AS (
      SELECT r.domain,
             CAST(SUM(CASE WHEN CAST(r.h AS HUGEINT)
                                * (SELECT m_sum FROM g) * dw.total_chars
                             < CAST(1000000 AS HUGEINT)
                                * (SELECT t_budget FROM g) * dw.weight_micro
                       THEN 1 ELSE 0 END) AS BIGINT) AS sel_docs,
             CAST(SUM(CASE WHEN CAST(r.h AS HUGEINT)
                                * (SELECT m_sum FROM g) * dw.total_chars
                             < CAST(1000000 AS HUGEINT)
                                * (SELECT t_budget FROM g) * dw.weight_micro
                       THEN r.n_chars ELSE 0 END) AS BIGINT) AS sel_chars
      FROM r JOIN dw ON dw.domain = r.domain
      GROUP BY r.domain
    )
    SELECT dw.domain, dw.n_docs, dw.total_chars, dw.weight_micro,
           CASE WHEN dw.total_chars = 0 OR (SELECT m_sum FROM g) = 0 THEN 0
                ELSE LEAST(1000000, CAST(FLOOR(1000000.0 *
                  (CAST((SELECT t_budget FROM g) AS DOUBLE)
                   * CAST(dw.weight_micro AS DOUBLE))
                  / (CAST((SELECT m_sum FROM g) AS DOUBLE)
                     * CAST(dw.total_chars AS DOUBLE))) AS BIGINT))
           END AS rate_micro,
           sel.sel_docs, sel.sel_chars
    FROM dw JOIN sel ON sel.domain = dw.domain
    ORDER BY dw.domain
    """,
)
def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted dataset mixing (the GPT-3 / Pile recipe):
    given per-domain corpus masses, flatten the mix with alpha = 0.5
    (sampling weight w_d = sqrt(chars_d)), split a corpus-level char
    budget T = total_chars // 2 across domains in proportion w_d / Σw,
    and select documents by a DETERMINISTIC hash acceptance test so the
    sample is reproducible and distributed (no RNG state, no
    coordination): doc accepted iff
        hash60(doc_id) % 1e6  <  1e6 · T · w_d / (Σw · chars_d)
    evaluated as the EXACT integer cross-multiplication
        h · Σw · chars_d  <  1e6 · T · w_d
    (DECIMAL(38,0) / HUGEINT products — no division, no floats, so the
    selection boundary cannot drift between engines; the min(1, rate)
    cap falls out of the inequality because h < 1e6). The REPORTED
    rate_micro is the floored per-domain acceptance rate in
    micro-units; it is display-side only — selection never consumes it.

    Per-domain weights use FLOOR(sqrt(chars)·1e6) micro-units:
    hardware-rounded IEEE sqrt over an exact integer is bit-identical
    cross-engine, and flooring into integers makes Σw an exact,
    order-independent sum (the corpus_drift_kl contract).

    Scale design: two scan passes, each ending in a ~23-key domain
    groupBy with map-side partial aggs (key-width exchanges); the
    global (Σw, T) constants reduce to ONE broadcast row, and the
    per-domain constants ride a broadcast join back onto the second
    pass — the corpus itself never shuffles. At 100 TB the decimal
    products stay inside DECIMAL(38,0): h·Σw·chars ≈ 1e6·3e17·1e13 =
    3e36 < 1e38 even at 1e5 domains of 10 TB each. OUT-OF-DOMAIN
    BEHAVIOR: past that bound the engines diverge LOUDLY
    ASYMMETRICALLY, not silently-identically — Spark's default
    allowPrecisionLoss turns a capped decimal(38,0) product overflow
    into NULL (the acceptance test then evaluates false, silently
    dropping the doc) while DuckDB's HUGEINT multiply raises. The
    stated 1e38 product bound is therefore a domain precondition of
    this query, same class as the nonzero-norm embedding precondition
    (similarity.py): a corpus large enough to breach it needs the
    budget and hash scaled down (divide h and the 1e6 scale by a
    common factor), not a wider integer.

    This is the missing third stage of the domain-curation trio:
    `domain_doc_stats` measures the mix, `domain_capped_sample` caps
    per-domain document counts, and this query produces the actual
    temperature-flattened training-mix sample."""
    d = table_par(spark, sf_dir, "documents")
    r = _mix_domain_rows(d)
    dw = _mix_domain_weights(r)
    g = dw.agg(
        F.sum("weight_micro").cast("bigint").alias("m_sum"),
        F.sum("total_chars").cast("bigint").alias("tc"),
    ).select("m_sum", F.expr(f"tc div {_MIX_BUDGET_DIV}").alias("t_budget"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    accept = (dec("h") * dec("m_sum") * dec("total_chars")) < (
        F.lit(1000000).cast("decimal(38,0)") * dec("t_budget") * dec("weight_micro")
    )
    sel = (
        r.join(F.broadcast(dw.select("domain", "total_chars", "weight_micro")), "domain")
        .crossJoin(F.broadcast(g))
        .groupBy("domain")
        .agg(
            F.sum(F.when(accept, 1).otherwise(0)).cast("bigint").alias("sel_docs"),
            F.sum(F.when(accept, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("sel_chars"),
        )
    )
    rate = F.when(
        (F.col("total_chars") == 0) | (F.col("m_sum") == 0), F.lit(0).cast("bigint")
    ).otherwise(
        F.least(
            F.lit(1000000).cast("bigint"),
            F.floor(
                F.lit(1000000.0)
                * (
                    F.col("t_budget").cast("double")
                    * F.col("weight_micro").cast("double")
                )
                / (
                    F.col("m_sum").cast("double")
                    * F.col("total_chars").cast("double")
                )
            ).cast("bigint"),
        )
    )
    return (
        dw.join(sel, "domain")
        .crossJoin(F.broadcast(g))
        .select(
            "domain",
            "n_docs",
            "total_chars",
            "weight_micro",
            rate.alias("rate_micro"),
            "sel_docs",
            "sel_chars",
        )
        .orderBy("domain")
    )


_EPOCH_CAP = 3  # max repetitions per document (standard data-recipe cap)


@register(
    "epoch_training_order",
    oracle=f"""
    WITH {_DOMAIN_U_SQL},
    r AS (
      SELECT doc_id, n_chars,
             {_DOMAIN_SQL} AS domain,
             {_MIX_HASH_SQL} AS h
      FROM u
    ),
    dw AS (
      SELECT domain,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(FLOOR(SQRT(CAST(SUM(n_chars) AS DOUBLE)) * 1000000)
                  AS BIGINT) AS weight_micro
      FROM r GROUP BY domain
    ),
    g AS (
      SELECT CAST(SUM(weight_micro) AS BIGINT) AS m_sum,
             CAST(SUM(total_chars) AS BIGINT) // {_MIX_BUDGET_DIV} AS t_budget
      FROM dw
    ),
    st AS (
      SELECT r.doc_id, r.domain, r.h,
             CAST((SELECT t_budget FROM g) AS HUGEINT) * dw.weight_micro AS num,
             CAST((SELECT m_sum FROM g) AS HUGEINT) * dw.total_chars AS den
      FROM r JOIN dw ON dw.domain = r.domain
    ),
    cp AS (
      SELECT doc_id, domain,
             CAST(LEAST(num // den, {_EPOCH_CAP})
                  + CASE WHEN num // den < {_EPOCH_CAP}
                              AND CAST(h AS HUGEINT) * den
                                  < CAST(1000000 AS HUGEINT)
                                    * (num - (num // den) * den)
                         THEN 1 ELSE 0 END AS INT) AS n_copies
      FROM st
    ),
    ex AS (
      SELECT doc_id, domain, n_copies,
             UNNEST(range(1, n_copies + 1)) AS ci
      FROM cp WHERE n_copies >= 1
    )
    SELECT doc_id, domain, CAST(ci AS INT) AS copy_idx, n_copies,
           CAST(CAST(CONCAT('0x', SUBSTR(md5(CONCAT(CAST(doc_id AS VARCHAR),
                ':', CAST(ci AS VARCHAR))), 1, 15)) AS UBIGINT) AS BIGINT)
             AS order_key
    FROM ex
    ORDER BY order_key, doc_id, copy_idx
    """,
)
def epoch_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-aware training order (the data-recipe stage after
    `domain_mixture_sample`): each domain's temperature-flattened char
    budget T*w_d/SUM(w) converts into per-document EPOCH counts — the
    integer part repeats every doc, the fractional epoch selects docs
    by the same deterministic hash acceptance as the mixing query, and
    repetitions are capped at {_EPOCH_CAP} (the public-recipe rule that
    a source is repeated only a few times before returns vanish). Every
    (doc, copy) then gets a deterministic 60-bit ORDER KEY — the
    portable hash of "doc_id:copy_idx" — producing a reproducible
    global shuffle of the mixed corpus WITHOUT any RNG state or global
    row numbering: the loader range-partitions on order_key and reads
    in key order, and two copies of one document land in unrelated
    positions.

    Exactness: epochs are computed as exact integer division
    num // den with num = T*w_d and den = SUM(w)*chars_d (HUGEINT /
    DECIMAL(38,0) — no floats), the fractional acceptance is the exact
    cross-multiplication h*den < 1e6*(num mod den), and the order key
    is md5-derived — every value bit-identical cross-engine. Domain
    bound: h*den <= 1e6 * SUM(w) * chars_d ~ 3e36 at 100 TB, inside
    DECIMAL(38,0) (same precondition as domain_mixture_sample,
    documented there).

    Scale design: two ~23-key domain groupBys + ONE broadcast constants
    row; the per-doc epoch math and the copy explode (fan-out <=
    {_EPOCH_CAP} + 1) are map-side; the only corpus-wide movement is
    the presentation sort on order_key — which at 100 TB IS the
    intended write partitioning, not overhead."""
    d = table_par(spark, sf_dir, "documents")
    r = _mix_domain_rows(d)
    dw = _mix_domain_weights(r)
    g = dw.agg(
        F.sum("weight_micro").cast("bigint").alias("m_sum"),
        F.sum("total_chars").cast("bigint").alias("tc"),
    ).select("m_sum", F.expr(f"tc div {_MIX_BUDGET_DIV}").alias("t_budget"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    st = (
        r.join(
            F.broadcast(dw.select("domain", "total_chars", "weight_micro")),
            "domain",
        )
        .crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            "domain",
            "h",
            (dec("t_budget") * dec("weight_micro")).alias("num"),
            (dec("m_sum") * dec("total_chars")).alias("den"),
        )
        .selectExpr("doc_id", "domain", "h", "num", "den", "num div den AS full_raw")
        .selectExpr("*", "num - full_raw * den AS rem")
    )
    accept_frac = (F.col("full_raw") < _EPOCH_CAP) & (
        dec("h") * F.col("den")
        < F.lit(1000000).cast("decimal(38,0)") * F.col("rem")
    )
    cp = st.select(
        "doc_id",
        "domain",
        (
            F.least(F.col("full_raw"), F.lit(_EPOCH_CAP))
            + F.when(accept_frac, 1).otherwise(0)
        )
        .cast("int")
        .alias("n_copies"),
    ).filter(F.col("n_copies") >= 1)
    from transit_feed_etl_spark.operators import minhash as MH

    order_key = MH.portable_hash60(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("copy_idx").cast("string")
        )
    )
    return (
        cp.select(
            "doc_id",
            "domain",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
            "n_copies",
        )
        .select(
            "doc_id",
            "domain",
            F.col("copy_idx").cast("int").alias("copy_idx"),
            "n_copies",
            order_key.alias("order_key"),
        )
        .orderBy("order_key", "doc_id", "copy_idx")
    )
