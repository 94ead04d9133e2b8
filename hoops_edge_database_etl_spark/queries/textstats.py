"""Text analysis operators (BASELINE north star: language-ID, quality
scoring, token counting, document fingerprinting — per-document expression
pipelines over the ``documents`` table).

Every operator is a pure Column expression over the tokenized text — no
shuffle at all except where a groupBy is the point (fingerprint clusters).
At 100 TB these are embarrassingly parallel map stages that pipeline with
the parquet scan."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load

# Per-language marker (stopword) profiles for the n-gram/stopword-ratio
# language heuristic. Real deployments load bigger lists from config; the
# mechanism (score = marker-token share, argmax with deterministic
# tiebreak) is what matters.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "ein", "mit", "von"],
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "不"],
}


def _score_expr(lang: str) -> str:
    """SQL fragment (valid in both Spark SQL and DuckDB): share of tokens
    that are markers of ``lang``."""
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"CAST(size(filter(w, t -> array_contains(array({markers}), t))) AS DOUBLE)"
        f" / size(w)"
    )


def _score_duck(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"CAST(len(list_filter(w, t -> list_contains([{markers}], t))) AS DOUBLE)"
        f" / len(w)"
    )


def _argmax_case(scores: dict[str, str]) -> str:
    """First-wins argmax over named score expressions, alphabetical
    preference on ties — identical text for both dialects."""
    langs = sorted(scores)
    branches = []
    for i, lang in enumerate(langs):
        others = [scores[o] for o in langs if o != lang]
        cond = " AND ".join(f"{scores[lang]} >= {o}" for o in others)
        branches.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE NULL END"


@query(
    "q49_lang_id",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           { _argmax_case({lang: _score_duck(lang) for lang in LANG_MARKERS}) } AS predicted_lang,
           { _score_duck('en') } AS score_en,
           lang AS labeled_lang
    FROM toks
    """,
)
def q49_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language identification: score(lang) = share of
    tokens in that language's marker list, argmax with alphabetical
    tiebreak. The classifier compiles to one filter/size expression per
    language — a broadcast-free, shuffle-free map."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.split("text", " ").alias("w"))
    scores = {lang: _score_expr(lang) for lang in LANG_MARKERS}
    return toks.select(
        "doc_id",
        F.expr(_argmax_case(scores)).alias("predicted_lang"),
        F.expr(_score_expr("en")).alias("score_en"),
        F.col("lang").alias("labeled_lang"),
    )


def _quality_exprs():
    """Shared quality-composite expressions over a staged frame carrying
    ``n_chars`` and token array ``w`` — the ONE definition of the q50
    formula, composed verbatim by the q70 endpoint."""
    n_tokens = F.size("w")
    ttr = F.size(F.array_distinct("w")).cast("double") / n_tokens
    # tokens are space-joined: chars = Σlen + (n-1) ⇒ Σlen = chars - n + 1
    atl = (F.col("n_chars") - n_tokens + 1).cast("double") / n_tokens
    quality = (
        0.4 * F.least(n_tokens.cast("double") / 50, F.lit(1.0))
        + 0.4 * ttr
        + 0.2 * F.least(atl / 6, F.lit(1.0))
    )
    return n_tokens, ttr, atl, quality


@query(
    "q50_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS w
      FROM documents
    ), m AS (
      SELECT doc_id, n_chars,
             len(w) AS n_tokens,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS type_token_ratio,
             CAST(n_chars - len(w) + 1 AS DOUBLE) / len(w) AS avg_token_len
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, type_token_ratio,
           avg_token_len,
           0.4 * least(CAST(n_tokens AS DOUBLE) / 50, 1.0)
             + 0.4 * type_token_ratio
             + 0.2 * least(avg_token_len / 6, 1.0) AS quality,
           CASE WHEN 0.4 * least(CAST(n_tokens AS DOUBLE) / 50, 1.0)
                     + 0.4 * type_token_ratio
                     + 0.2 * least(avg_token_len / 6, 1.0) >= 0.6 THEN 'high'
                WHEN 0.4 * least(CAST(n_tokens AS DOUBLE) / 50, 1.0)
                     + 0.4 * type_token_ratio
                     + 0.2 * least(avg_token_len / 6, 1.0) >= 0.4 THEN 'medium'
                ELSE 'low' END AS quality_bucket
    FROM m
    """,
)
def q50_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring from length / type-token ratio / mean token
    length (the length-punct-stopword composite of pretraining-data
    filters), with a bucketing CASE for downstream sampling policies."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.length("text").alias("n_chars"), F.split("text", " ").alias("w"))
    n_tokens, ttr, atl, quality = _quality_exprs()
    return t.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        ttr.alias("type_token_ratio"),
        atl.alias("avg_token_len"),
        quality.alias("quality"),
        F.when(quality >= 0.6, "high")
        .when(quality >= 0.4, "medium")
        .otherwise("low")
        .alias("quality_bucket"),
    )


@query(
    "q51_token_stats",
    oracle="""
    WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_tokens,
           CAST(list_sum(list_transform(w, t -> CAST(ceil(len(t) / 4.0) AS BIGINT)))
                AS BIGINT) AS est_bpe_tokens,
           CAST(n_chars AS DOUBLE) / len(w) AS chars_per_token
    FROM t
    """,
)
def q51_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct types, and a BPE-ish
    subword estimate (⌈len/4⌉ per token — the usual ~4-chars-per-token
    heuristic) computed as an expression fold."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "n_chars", F.split("text", " ").alias("w"))
    return t.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("w")).cast("bigint").alias("n_distinct_tokens"),
        F.aggregate(
            F.transform("w", lambda tok: F.ceil(F.length(tok) / 4.0).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("bigint").alias("est_bpe_tokens"),
        (F.col("n_chars").cast("double") / F.size("w")).alias("chars_per_token"),
    )


@query(
    "q52_fingerprint_clusters",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint,
           MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
           CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS cluster_size
    FROM fp
    """,
)
def q52_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set — detects near-dups under token reordering (the cheap
    complement to MinHash). Cluster assignment is one window over the
    16-byte fingerprint, so the shuffle payload is tiny at any scale."""
    d = load(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
        ).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint")
    return fp.select(
        "doc_id",
        "fingerprint",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


@query(
    "q66_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           substring(hex(encode(text)), 1, 8) AS magic_hex,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def q66_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-column metadata pass (the multimodal data model,
    operators/multimodal.py, made driver-checkable): payloads are treated
    as bytes — size, magic-prefix hex, content digest — with NO decode,
    exactly how a 100 TB multimodal table is profiled before any codec
    runs. Here the payload is the UTF-8 encoding of ``text`` (the
    testdata ships no binary column); swap the encode() for a real
    ``binary`` column and nothing else changes. All three outputs are
    byte-level functions with exact cross-engine parity (hex is
    uppercase in both; md5 hashes UTF-8 bytes in both)."""
    d = load(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.substring(F.hex(payload), 1, 8).alias("magic_hex"),
        F.md5(payload).alias("payload_md5"),
    )


@query(
    "q68_dataset_split",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) AS BIGINT) % 100 AS bk
      FROM documents
    ),
    s AS (
      SELECT doc_id, lang,
             CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val' ELSE 'test' END AS split
      FROM b
    )
    SELECT doc_id, lang, split,
           CAST(COUNT(*) OVER (PARTITION BY lang, split) AS BIGINT) AS stratum_size
    FROM s
    """,
)
def q68_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) via stable id
    hashing (functions.text.stable_split) with per-(lang, split) stratum
    sizes — the no-leakage dataset partitioning step of a training-data
    pipeline. Hash-based, never rand(): reproducible across runs,
    repartition-proof, and incrementally consistent (a re-ingested doc
    always lands in its original split, so eval sets never contaminate).
    One narrow map + one window; the shuffle key is (lang, split) —
    trivially balanced at any corpus size."""
    from hoops_edge_database_etl_spark.functions.text import stable_split

    d = load(spark, sf_dir, "documents")
    s = d.select("doc_id", "lang", stable_split(F.col("doc_id")).alias("split"))
    w = Window.partitionBy("lang", "split")
    return s.select(
        "doc_id",
        "lang",
        "split",
        F.count(F.lit(1)).over(w).cast("bigint").alias("stratum_size"),
    )


@query(
    "q70_training_corpus",
    oracle="""
    WITH canon AS (
      SELECT doc_id, text, lang,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      FROM documents
    ),
    t AS (
      SELECT doc_id, lang, length(text) AS n_chars, string_split(text, ' ') AS w
      FROM canon WHERE doc_id = canonical_id
    ),
    m AS (
      SELECT doc_id, lang, len(w) AS n_tokens,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
             CAST(n_chars - len(w) + 1 AS DOUBLE) / len(w) AS atl,
             CAST(list_sum(list_transform(w, t -> CAST(ceil(len(t) / 4.0) AS BIGINT)))
                  AS BIGINT) AS est_bpe_tokens
      FROM t
    ),
    q AS (
      SELECT doc_id, lang, n_tokens, est_bpe_tokens,
             0.4 * least(CAST(n_tokens AS DOUBLE) / 50, 1.0)
               + 0.4 * ttr
               + 0.2 * least(atl / 6, 1.0) AS quality
      FROM m
    )
    SELECT doc_id, lang,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) AS BIGINT) % 100 < 80
                THEN 'train'
                WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) AS BIGINT) % 100 < 90
                THEN 'val' ELSE 'test' END AS split,
           quality,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           est_bpe_tokens
    FROM q WHERE quality >= 0.4
    """,
)
def q70_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline ENDPOINT a pretraining-data system ships: one
    declarative plan composing exact dedup (md5-canonical only) → quality
    filter (q50's composite ≥ 0.4) → stable train/val/test assignment →
    token budgets (whitespace + BPE-ish estimate). Catalyst fuses the
    whole thing into scan → window(md5) → map: ONE shuffle on the 16-byte
    content hash; everything else is narrow. At 100 TB each stage is the
    already-audited scale shape — this query exists to prove the stages
    COMPOSE without driver round-trips or extra exchanges."""
    from hoops_edge_database_etl_spark.functions.text import stable_split

    d = load(spark, sf_dir, "documents")
    w_md5 = Window.partitionBy(F.md5("text"))
    canon = d.select(
        "doc_id", "text", "lang", F.min("doc_id").over(w_md5).alias("canonical_id")
    ).filter(F.col("doc_id") == F.col("canonical_id"))
    t = canon.select(
        "doc_id", "lang", F.length("text").alias("n_chars"), F.split("text", " ").alias("w")
    )
    n_tokens, _ttr, _atl, quality = _quality_exprs()
    est_bpe = F.aggregate(
        F.transform("w", lambda tok: F.ceil(F.length(tok) / 4.0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        t.select(
            "doc_id",
            "lang",
            stable_split(F.col("doc_id")).alias("split"),
            quality.alias("quality"),
            n_tokens.cast("bigint").alias("n_tokens"),
            est_bpe.cast("bigint").alias("est_bpe_tokens"),
        )
        .filter(F.col("quality") >= 0.4)
    )


@query(
    "q74_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(string_split(text, ' '),
                  t -> CAST(ceil(len(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, n_tok,
           CAST((cum - 1) // 2048 AS BIGINT) AS pack_id,
           CAST(cum - n_tok - ((cum - 1) // 2048) * 2048 AS BIGINT) AS pack_offset
    FROM c
    """,
)
def q74_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: documents are laid out in a
    stable order (doc_id) along a token stream and cut into fixed
    2048-token context windows — pack_id = which window this doc's LAST
    token lands in, pack_offset = where the doc starts within that window
    (docs spanning a boundary carry into the next pack, the standard
    concat-and-chunk packing of pretraining loaders). Global cumsum
    over ⌈len/4⌉ BPE-ish token estimates; integer arithmetic end-to-end.

    Scale plan (the executed one, not just documented): a global
    ORDER BY cumsum would be a single-reducer window, so the cumsum is
    computed in two passes with no global barrier anywhere:
      1. ``repartitionByRange(doc_id)`` — ascending key ranges map to
         ascending partition ids, so partition order == doc_id order;
      2. per-range cumsum via ``Window.partitionBy(partition_id)`` —
         every reducer owns one range, all ranges run in parallel;
      3. per-range totals (one bigint per range, ≤ shuffle-partition
         count rows) get prefix base offsets via a triangular self-join
         on that tiny aggregate — no SinglePartition exchange — and are
         broadcast back onto the ranges.
    cum = base(range) + local_cum reconstructs the identical global
    layout; at 100 TB each reducer sees corpus/N_ranges tokens."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.aggregate(
        F.transform(F.split("text", " "), lambda tok: F.ceil(F.length(tok) / 4.0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    t = d.select("doc_id", n_tok.alias("n_tok"))
    ranged = t.repartitionByRange("doc_id").withColumn("__pid", F.spark_partition_id())
    w_local = Window.partitionBy("__pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = ranged.withColumn("local_cum", F.sum("n_tok").over(w_local))
    totals = local.groupBy("__pid").agg(F.max("local_cum").alias("part_total"))
    earlier = totals.select(
        F.col("__pid").alias("__bpid"), F.col("part_total").alias("__btotal")
    )
    offsets = (
        totals.join(F.broadcast(earlier), F.col("__bpid") < F.col("__pid"), "left")
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__btotal"), F.lit(0)).cast("long").alias("base"))
    )
    c = local.join(F.broadcast(offsets), "__pid").withColumn(
        "cum", F.col("local_cum") + F.col("base")
    )
    pack = F.expr("(cum - 1) div 2048")
    return c.select(
        "doc_id",
        "n_tok",
        pack.alias("pack_id"),
        (F.col("cum") - F.col("n_tok") - pack * 2048).cast("bigint").alias("pack_offset"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


@query(
    "q98_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or admin' || CAST(doc_id AS VARCHAR)
                       || '@test.org now'
                  ELSE text END AS t
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           md5(regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g')) AS scrubbed_md5
    FROM aug
    """,
)
def q98_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every pretraining pipeline runs
    before tokenization: email addresses are counted and replaced with a
    placeholder, entirely in JVM regex expressions (no UDF). The corpus
    is deterministically salted with synthetic addresses (doc_id % 7) so
    the scrubber provably fires; output carries the md5 of the scrubbed
    text, so the oracle hash-checks the exact redacted BYTES, not just
    counts. The regex stays in the POSIX-ish common subset that Java
    util.regex and RE2 interpret identically; DuckDB needs the 'g' flag
    where Spark's regexp_replace is global by default — dialect
    difference absorbed here, not in the pattern."""
    d = load(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or admin"), F.col("doc_id").cast("string"),
            F.lit("@test.org now"),
        ),
    ).otherwise(F.col("text"))
    t = d.select("doc_id", aug.alias("t"))
    return t.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.regexp_count(F.col("t"), F.lit(_PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.md5(F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>")).alias("scrubbed_md5"),
    )


@query(
    "q99_repetition_filter",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM toks, UNNEST(range(1, greatest(len(w) - 1, 1))) AS t(i)
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS total, COUNT(DISTINCT s) AS uniq
      FROM sh GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(total AS BIGINT) AS n_shingles,
           CAST(uniq AS BIGINT) AS n_unique,
           1.0 - CAST(uniq AS DOUBLE) / CAST(total AS DOUBLE) AS repetition_ratio,
           CAST(CASE WHEN 1.0 - CAST(uniq AS DOUBLE) / CAST(total AS DOUBLE) >= 0.2
                     THEN 1 ELSE 0 END AS BIGINT) AS flagged
    FROM agg
    """,
)
def q99_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition quality signal (the Gopher/C4 rule that
    kills boilerplate-looped documents): fraction of NON-unique 3-gram
    occurrences per doc; docs ≥ 20% repeated shingles are flagged.
    Complementary to q84 (cross-doc boilerplate) and q50 (surface
    quality): this one catches a document repeating ITSELF. One
    map-side-combining count-distinct aggregate per doc — the shingle
    explode is the only fan-out and it never leaves the partition until
    the per-doc reduce."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    # NON-distinct shingles (repetition is the signal — array_distinct
    # would erase it); sequence(1,0) would step backwards, hence the guard
    starts = F.sequence(F.lit(1), F.size("w") - 2)
    shingles = F.when(
        F.size("w") >= 3,
        F.transform(starts, lambda i: F.array_join(F.slice(F.col("w"), i, 3), " ")),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", F.explode(shingles).alias("s"))
    agg = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("s").alias("uniq"),
    )
    ratio = F.lit(1.0) - F.col("uniq").cast("double") / F.col("total").cast("double")
    return agg.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("total").cast("bigint").alias("n_shingles"),
        F.col("uniq").cast("bigint").alias("n_unique"),
        ratio.alias("repetition_ratio"),
        F.when(ratio >= 0.2, 1).otherwise(0).cast("bigint").alias("flagged"),
    )


@query(
    "q100_row_ids",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id
    FROM documents
    """,
)
def q100_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global example ids in doc_id order via
    operators.rowids.stable_row_ids — the zipWithIndex replacement whose
    plan has NO single-reducer stage (the oracle's global window is the
    thing the operator exists to avoid; see the module docstring for the
    two-pass range shape). Asserted shuffle shape in test_plans."""
    from hoops_edge_database_etl_spark.operators.rowids import stable_row_ids

    d = load(spark, sf_dir, "documents").select("doc_id")
    return stable_row_ids(d, ["doc_id"], id_col="row_id").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("row_id").cast("bigint").alias("row_id"),
    )


@query(
    "q109_source_mix",
    oracle="""
    WITH t AS (
      SELECT source, md5(text) AS h, length(text) AS n_chars,
             string_split(text, ' ') AS w
      FROM documents
    ),
    m AS (
      SELECT source, h,
             CAST(floor((0.4 * least(CAST(len(w) AS DOUBLE) / 50, 1.0)
                         + 0.4 * CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
                         + 0.2 * least((CAST(n_chars - len(w) + 1 AS DOUBLE) / len(w)) / 6, 1.0))
                        * 16777216 + 0.5) AS BIGINT) AS q_fp
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_texts,
           1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS dup_rate,
           CAST(SUM(q_fp) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 16777216.0)
             AS mean_quality
    FROM m GROUP BY source
    """,
)
def q109_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card — the mix dashboard every
    pretraining-data team reviews before weighting sources: doc counts,
    exact-dup rate (md5 content hash), and mean quality. The mean is the
    cross-engine trap: averaging raw doubles sums in shuffle order, so
    each doc's quality (q50's formula) is quantized to 24-bit fixed
    point FIRST and summed in int64 — order-independent, exact, divided
    back once at the edge. One count-distinct shuffle per source; at
    100 TB the per-source state is two counters and an int64."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "source",
        F.md5("text").alias("h"),
        F.length("text").alias("n_chars"),
        F.split("text", " ").alias("w"),
    )
    _n_tokens, _ttr, _atl, quality = _quality_exprs()
    m = t.select(
        "source",
        "h",
        F.floor(quality * (1 << 24) + F.lit(0.5)).cast("long").alias("q_fp"),
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("h").cast("bigint").alias("n_unique_texts"),
        (
            F.lit(1.0)
            - F.countDistinct("h").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("dup_rate"),
        (
            F.sum("q_fp").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(float(1 << 24)))
        ).alias("mean_quality"),
    )


@query(
    "q110_vocab_head",
    oracle="""
    WITH tok AS (
      SELECT t.tok AS token
      FROM (SELECT string_split(text, ' ') AS w FROM documents), UNNEST(w) AS t(tok)
      WHERE t.tok <> ''
    ),
    tf AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    r AS (
      SELECT token, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS vocab_rank
      FROM tf
    )
    SELECT token, CAST(cnt AS BIGINT) AS cnt,
           CAST(vocab_rank AS BIGINT) AS vocab_rank,
           CAST(SUM(cnt) OVER (ORDER BY vocab_rank
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(n AS DOUBLE) AS cum_coverage
    FROM r CROSS JOIN total
    WHERE vocab_rank <= 50
    """,
)
def q110_vocab_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head with cumulative corpus coverage — the Zipf report
    that sizes a tokenizer vocabulary: top-50 tokens by frequency and
    the running fraction of all token occurrences they cover. Token
    counting is one map-side-combining shuffle; the ranking runs through
    the associative two-phase top-k and only the 50 survivors see the
    (driver-tiny) cumulative window. Coverage is exact-integer counts
    divided once at the edge."""
    from hoops_edge_database_etl_spark.operators.topk import top_k_per_group

    d = load(spark, sf_dir, "documents").select(F.split("text", " ").alias("w"))
    tok = d.select(F.explode("w").alias("token")).filter(F.col("token") != "")
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    head = top_k_per_group(
        tf.withColumn("__g", F.lit(1)),
        ["__g"],
        [F.col("cnt").desc(), F.col("token")],
        50,
        rank_col="vocab_rank",
    ).drop("__g")
    w = Window.orderBy("vocab_rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        head.crossJoin(F.broadcast(total))
        .withColumn("__cum", F.sum("cnt").over(w))
        .select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("vocab_rank").cast("bigint").alias("vocab_rank"),
            (F.col("__cum").cast("double") / F.col("n").cast("double")).alias(
                "cum_coverage"
            ),
        )
    )


_Q111_STRIDE = 5000  # one sampled doc per ~5000 estimated BPE tokens


@query(
    "q111_weighted_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(string_split(text, ' '),
                  t -> CAST(ceil(len(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, n_tok,
           CAST(cum // {_Q111_STRIDE} - (cum - n_tok) // {_Q111_STRIDE} AS BIGINT)
             AS n_strides
    FROM c
    WHERE cum // {_Q111_STRIDE} - (cum - n_tok) // {_Q111_STRIDE} >= 1
    """,
)
def q111_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted systematic sampling WITHOUT RNG or float weights:
    lay documents along the cumulative token axis (q74's two-pass
    distributed cumsum — range partitions, per-range sums, broadcast
    base offsets, no global window) and keep every doc whose token span
    crosses a 5000-token stride boundary. Selection
    probability is exactly proportional to token count, the sample is
    deterministic and repartition-proof, and n_strides doubles as the
    doc's integer sampling weight — the weighted analogue of q73's
    hash-ranked uniform sample, with pure integer arithmetic end to
    end."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.aggregate(
        F.transform(F.split("text", " "), lambda tok: F.ceil(F.length(tok) / 4.0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    t = d.select("doc_id", n_tok.alias("n_tok"))
    ranged = t.repartitionByRange("doc_id").withColumn("__pid", F.spark_partition_id())
    w_local = Window.partitionBy("__pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = ranged.withColumn("local_cum", F.sum("n_tok").over(w_local))
    totals = local.groupBy("__pid").agg(F.max("local_cum").alias("part_total"))
    earlier = totals.select(
        F.col("__pid").alias("__bpid"), F.col("part_total").alias("__btotal")
    )
    offsets = (
        totals.join(F.broadcast(earlier), F.col("__bpid") < F.col("__pid"), "left")
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__btotal"), F.lit(0)).cast("long").alias("base"))
    )
    c = local.join(F.broadcast(offsets), "__pid").withColumn(
        "cum", F.col("local_cum") + F.col("base")
    )
    strides = F.expr(f"cum div {_Q111_STRIDE}") - F.expr(
        f"(cum - n_tok) div {_Q111_STRIDE}"
    )
    return (
        c.withColumn("n_strides", strides.cast("bigint"))
        .filter(F.col("n_strides") >= 1)
        .select("doc_id", "n_tok", "n_strides")
    )


@query(
    "q112_ordered_group_concat",
    oracle="""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           string_agg(CAST(l_linenumber AS VARCHAR), ','
                      ORDER BY l_linenumber, l_partkey) AS line_seq
    FROM lineitem
    WHERE l_orderkey % 200 = 0
    GROUP BY l_orderkey
    """,
)
def q112_ordered_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered string aggregation (the audit-trail export
    the reference produced with Python ''.join loops): collect_list is
    order-nondeterministic under shuffles, so the rows are packed as
    (sortkey…, value) structs, sort_array'd — struct comparison is
    lexicographic by field order, giving the exact ORDER BY — and only
    then joined into the CSV. State per group is the packed array, so
    this is for bounded groups (an order's lines), not unbounded ones."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 200 == 0)
    packed = F.sort_array(
        F.collect_list(F.struct("l_linenumber", "l_partkey"))
    )
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.array_join(
            F.transform(packed, lambda s: s["l_linenumber"].cast("string")), ","
        ).alias("line_seq"),
    ).select(
        F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
        "n_lines",
        "line_seq",
    )


@query(
    "q122_cooccurrence_lift",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, t.tok AS token
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(w) AS t(tok)
      WHERE t.tok <> ''
    ),
    tf AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
    head AS (
      SELECT token, df FROM (
        SELECT token, df, ROW_NUMBER() OVER (ORDER BY df DESC, token) AS r
        FROM tf
      ) WHERE r <= 40
    ),
    ht AS (
      SELECT tok.doc_id, tok.token, head.df
      FROM tok JOIN head ON head.token = tok.token
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
    pairs AS (
      SELECT a.token AS tok_a, b.token AS tok_b,
             COUNT(*) AS n_ab,
             MAX(a.df) AS df_a, MAX(b.df) AS df_b
      FROM ht a JOIN ht b ON b.doc_id = a.doc_id AND a.token < b.token
      GROUP BY a.token, b.token
    )
    SELECT tok_a, tok_b,
           CAST(n_ab AS BIGINT) AS n_ab,
           CAST(df_a AS BIGINT) AS df_a,
           CAST(df_b AS BIGINT) AS df_b,
           CAST(n_ab AS DOUBLE) * CAST(n_docs AS DOUBLE)
             / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)) AS lift
    FROM pairs CROSS JOIN n
    """,
)
def q122_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level token co-occurrence with PMI-style lift — the
    association-mining pass behind phrase detection and embedding-free
    relatedness: for every pair of HEAD-VOCABULARY tokens (top-40 by
    document frequency — the standard guard that keeps the pair space
    |head|² bounded instead of |vocab|²), count co-occurring documents
    and score lift = P(a,b)/(P(a)P(b)) (ln-free, the q92 rule — both
    engines run the identical IEEE divide on exact integer counts).

    Plan: distinct (doc, token) → df counts (map-side combine) → top-40
    via the associative two-phase top-k → broadcast-semi back onto the
    token stream → per-doc self-join restricted to head tokens (fan-out
    ≤ 40 per doc) → pair aggregation. No vocab-quadratic stage anywhere;
    the oracle replays it relationally."""
    from hoops_edge_database_etl_spark.operators.topk import top_k_per_group

    d = load(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    head = top_k_per_group(
        tf.withColumn("__g", F.lit(1)),
        ["__g"],
        [F.col("df").desc(), F.col("token")],
        40,
        rank_col="__r",
    ).select("token", "df")
    # doc x head-token table (fan <= 40/doc, bounded by the head guard)
    # feeds BOTH self-join legs — checkpoint so the token explode +
    # distinct shuffle runs for it once (r11 fact-rescan audit); the df
    # branch still needs its own full-vocabulary pass by design
    ht = tok.join(F.broadcast(head), "token").localCheckpoint(eager=False)
    a = ht.select(
        F.col("doc_id"), F.col("token").alias("tok_a"), F.col("df").alias("df_a")
    )
    b = ht.select(
        F.col("doc_id"), F.col("token").alias("tok_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.count(F.lit(1)).alias("n_ab"),
            F.max("df_a").alias("df_a"),
            F.max("df_b").alias("df_b"),
        )
    )
    n = d.select("doc_id").distinct().agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return pairs.crossJoin(F.broadcast(n)).select(
        "tok_a",
        "tok_b",
        F.col("n_ab").cast("bigint").alias("n_ab"),
        F.col("df_a").cast("bigint").alias("df_a"),
        F.col("df_b").cast("bigint").alias("df_b"),
        (
            F.col("n_ab").cast("double") * F.col("n_docs").cast("double")
            / (F.col("df_a").cast("double") * F.col("df_b").cast("double"))
        ).alias("lift"),
    )


@query(
    "q123_array_hof_suite",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, x -> strlen(x) > 5)) AS BIGINT) AS n_long,
           CAST(COALESCE(list_sum(list_transform(toks, x -> strlen(x))), 0)
                AS BIGINT) AS total_chars,
           CAST(list_max(list_transform(toks, x -> strlen(x))) AS BIGINT) AS max_len
    FROM t
    """,
)
def q123_array_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function coverage (§2.6 semi-structured,
    widened): transform / filter / aggregate / array_max lambdas over the
    tokenized document — the JVM-side, codegen'd way to compute per-row
    collection statistics that the reference did with Python list
    comprehensions over pyarrow rows. Zero shuffles (pure per-row
    expressions), zero UDFs; the oracle runs DuckDB's list lambdas —
    independent implementations of the identical semantics, including
    NULL max over an empty list and a 0 fold seed."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    lens = F.transform(toks, lambda x: F.length(x))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: F.length(x) > 5)).cast("long").alias("n_long"),
        F.aggregate(lens, F.lit(0).cast("long"), lambda a, v: a + v)
        .cast("long")
        .alias("total_chars"),
        F.array_max(lens).cast("long").alias("max_len"),
    )


# --- document chunking with overlap (q131) --------------------------------

CHUNK_W = 32  # tokens per chunk
CHUNK_S = 24  # stride (overlap = W - S = 8)


@query(
    "q131_doc_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    starts AS (
      SELECT doc_id, w,
             unnest(generate_series(0, len(w) - 1, {CHUNK_S})) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST(s / {CHUNK_S} AS BIGINT) AS chunk_idx,
           CAST(len(w[s + 1 : s + {CHUNK_W}]) AS BIGINT) AS n_tokens_chunk,
           w[s + 1] AS first_token,
           md5(array_to_string(w[s + 1 : s + {CHUNK_W}], ' ')) AS chunk_hash
    FROM starts
    """,
)
def q131_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking — the context-length prep
    step of every LLM training/RAG pipeline ({w}-token chunks, stride
    {s}, {o}-token overlap so no boundary context is lost): tokenize
    once, explode a stride-{s} start sequence (≤ ceil(n/{s}) chunk rows
    per doc — output is ~n/{s}·avg_chunks rows, linear in corpus size),
    slice the kept-whole token array per start, and fingerprint each
    chunk (md5) so downstream dedup can run at CHUNK granularity
    (the q41 exact-dedup / q82 decontamination join key). Pure JVM
    column expressions — split/slice/array_join/md5, no UDF; at 100 TB
    this is one narrow map stage with no shuffle at all — chunk rows
    inherit the input partitioning.""".format(
        w=CHUNK_W, s=CHUNK_S, o=CHUNK_W - CHUNK_S
    )
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    starts = toks.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(F.lit(0), F.size("w") - 1, F.lit(CHUNK_S))
        ).alias("s"),
    )
    chunk = F.slice(F.col("w"), F.col("s") + 1, CHUNK_W)
    return starts.select(
        "doc_id",
        (F.col("s") / CHUNK_S).cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_tokens_chunk"),
        F.element_at("w", F.col("s") + 1).alias("first_token"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


# --- temperature-weighted domain mixture (q132) ---------------------------

MIX_BUDGET = 50_000  # total token budget for the mixed corpus
_MIX_H60 = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"


@query(
    "q132_domain_mix",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST({_MIX_H60} AS DOUBLE) / {float(1 << 60)!r} AS hfrac
      FROM documents
    ),
    per_src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS weight
      FROM d GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS sum_w FROM per_src),
    plan AS (
      SELECT p.source, p.n_docs, p.n_tokens, p.weight,
             CAST(floor(({MIX_BUDGET} * p.weight) / t.sum_w) AS BIGINT)
               AS target_tokens
      FROM per_src p CROSS JOIN tot t
    ),
    assign AS (
      SELECT d.doc_id, d.source, d.n_tok,
             CAST(floor(CAST(p.target_tokens AS DOUBLE)
                        / CAST(p.n_tokens AS DOUBLE)) AS BIGINT)
             + CASE WHEN d.hfrac < CAST(p.target_tokens AS DOUBLE)
                                   / CAST(p.n_tokens AS DOUBLE)
                                   - floor(CAST(p.target_tokens AS DOUBLE)
                                           / CAST(p.n_tokens AS DOUBLE))
                    THEN 1 ELSE 0 END AS n_copies
      FROM d JOIN plan p ON p.source = d.source
    )
    SELECT p.source AS source, p.n_docs, p.n_tokens, p.weight, p.target_tokens,
           CAST(SUM(a.n_copies) AS BIGINT) AS n_docs_out,
           CAST(SUM(a.n_copies * a.n_tok) AS BIGINT) AS tokens_out
    FROM plan p JOIN assign a ON a.source = p.source
    GROUP BY p.source, p.n_docs, p.n_tokens, p.weight, p.target_tokens
    """,
)
def q132_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing (the Pile/CCNet α=½ recipe):
    per-source sampling targets ∝ n_tokens^0.5 flatten the source
    distribution, then each document gets a DETERMINISTIC multiplicity
    — floor(rate) copies plus one more iff its md5-hash fraction falls
    below rate's fractional part — so the realized token count is
    within one doc of the target per source WITHOUT RNG state
    (repartition-proof, retry-proof: the q73/q111 property). Integer
    weights (floor∘sqrt) and integer targets keep the plan arithmetic
    exact across engines; the only floats are the per-source rate and
    the hash fraction, both single-expression identical. Plan shape:
    one groupBy(source) for the histogram, a broadcast of the ≤|sources|
    plan rows back onto docs, one final groupBy — the doc-level
    assignment never shuffles. The emitted plan is what q111's
    systematic sampler consumes as its per-stratum budget at 100 TB."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            .cast("double")
            / F.lit(float(1 << 60))
        ).alias("hfrac"),
    )
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.floor(F.sqrt(F.sum("n_tok").cast("double"))).cast("bigint").alias("weight"),
    )
    # <=|sources|-row histogram read by the weight total and the plan
    # projection — checkpoint so the corpus scan runs once for it (r11
    # fact-rescan audit: 5 scans -> the structural 2: histogram pass +
    # assignment pass)
    per_src = per_src.localCheckpoint(eager=False)
    tot = per_src.agg(F.sum("weight").cast("bigint").alias("sum_w"))
    plan = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        F.floor((F.lit(MIX_BUDGET) * F.col("weight")) / F.col("sum_w"))
        .cast("bigint")
        .alias("target_tokens"),
    )
    rate = F.col("target_tokens").cast("double") / F.col("n_tokens").cast("double")
    assign = d.join(F.broadcast(plan), "source").select(
        "source",
        "n_tok",
        (
            F.floor(rate).cast("long")
            + F.when(F.col("hfrac") < rate - F.floor(rate), 1).otherwise(0)
        ).alias("n_copies"),
    )
    return (
        assign.groupBy("source")
        .agg(
            F.sum("n_copies").cast("bigint").alias("n_docs_out"),
            F.sum(F.col("n_copies") * F.col("n_tok")).cast("bigint").alias("tokens_out"),
        )
        .join(F.broadcast(plan), "source")
        .select(
            "source", "n_docs", "n_tokens", "weight", "target_tokens",
            "n_docs_out", "tokens_out",
        )
    )


# --- exact-substring decontamination (q138) -------------------------------

SUBSTR_PAT_LEN = 20
SUBSTR_PAT_OFF = 11


@query(
    "q138_substring_decontaminate",
    oracle=f"""
    WITH pats AS (
      SELECT DISTINCT substr(text, {SUBSTR_PAT_OFF}, {SUBSTR_PAT_LEN}) AS pat
      FROM documents
      WHERE doc_id % 97 = 0 AND n_chars >= {SUBSTR_PAT_OFF + SUBSTR_PAT_LEN}
    )
    SELECT d.doc_id,
           CAST(COUNT(DISTINCT p.pat) AS BIGINT) AS n_patterns_hit
    FROM documents d JOIN pats p ON strpos(d.text, p.pat) > 0
    GROUP BY d.doc_id
    """,
)
def q138_substring_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-SUBSTRING eval-set decontamination at character granularity
    — the stricter sibling of q82's token-5-gram overlap (catches
    contamination that reflows whitespace or crosses token boundaries).
    The oracle states it naively (strpos per doc × pattern — O(len·K)
    per doc, hopeless when the eval set has millions of snippets); the
    Spark plan is the scaling shape: every doc explodes into its
    {plen}-char windows (position explode — the Rabin-Karp window set,
    one row per char offset, linear in corpus bytes and embarrassingly
    parallel), which HASH-JOIN against the broadcast pattern
    dictionary — per-doc cost is O(len), INDEPENDENT of pattern count,
    and with a corpus-sized pattern set the same plan shuffles instead
    of broadcasting. Dedup to distinct (doc, pattern) before the
    count, since a pattern may match at several offsets.

    Round 9 (the live-bug-#9 family): the window production must not
    inherit the single-file scan's 1-partition layout — "embarrassingly
    parallel" only holds if the explode actually runs on more than one
    core, so the doc side repartitions by doc_id before the position
    explode (the pattern side stays a genuine broadcast: it is the
    bounded eval set)."""
    d = load(spark, sf_dir, "documents").repartition("doc_id")
    pats = (
        d.filter(
            (F.col("doc_id") % 97 == 0)
            & (F.col("n_chars") >= SUBSTR_PAT_OFF + SUBSTR_PAT_LEN)
        )
        .select(
            F.substring("text", SUBSTR_PAT_OFF, SUBSTR_PAT_LEN).alias("pat")
        )
        .distinct()
    )
    windows = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - (SUBSTR_PAT_LEN - 1))
        ).alias("pos"),
        "text",
    ).select(
        "doc_id",
        F.substring(F.col("text"), F.col("pos"), F.lit(SUBSTR_PAT_LEN)).alias("pat"),
    )
    return (
        windows.join(F.broadcast(pats), "pat")
        .select("doc_id", "pat")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_patterns_hit"))
    )


# --- audio PCM16 round-trip features (q145) -------------------------------


@query(
    "q145_audio_pcm_features",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id,
             (CAST(floor(value * 100 + 0.5) AS BIGINT) % 32768) - 16384 AS smp
      FROM events
    ),
    p AS (
      SELECT user_id, smp,
             lead(smp) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM s
    )
    SELECT user_id AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           sqrt(CAST(SUM(smp * smp) AS DOUBLE) / COUNT(*)) AS rms,
           CAST(SUM(CASE WHEN smp * nxt < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_crossings,
           CAST(MAX(abs(smp)) AS BIGINT) AS peak
    FROM p GROUP BY user_id
    """,
)
def q145_audio_pcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-as-binary ROUND TRIP, codec-free and hash-checked: each
    user's event stream becomes a deterministic int16 waveform (the
    brief's sanctioned stand-in for real audio — raw PCM is what sits
    inside every WAV anyway), PACKED little-endian into a true binary
    column by a grouped kernel (operators/multimodal.py:pack_pcm16,
    numpy tobytes), then a separate Arrow-batched mapInPandas stage
    DECODES the bytes (zero-copy frombuffer) and extracts RMS energy /
    strict zero-crossings / peak. The oracle recomputes the features
    straight from the integer series — so a wrong byte order, width,
    or sample order in the binary plumbing corrupts RMS and the hash
    catches it. Schema discipline: the payload column dies inside the
    feature stage; metadata (n_samples) travels beside it. This is the
    audio leg of the multimodal surface next to q66's image metadata
    and the raw-RGB kernels.

    r12 (guide §4.1/§4.5): the pack stage is a partition-STREAM
    mapInPandas over repartition(user) + sortWithinPartitions(user,
    ts, event_id) instead of a per-group applyInPandas — one kernel
    invocation per task walking ordered Arrow batches (carrying the
    open user across batch seams) replaces one Python call + one tiny
    pandas frame per media id, and the per-group pandas sort moves
    into the JVM sort. Same shuffle (hash on user), same per-user
    sample order (the within-partition sort totally orders each
    user's rows), byte-identical PCM blobs; oracle unchanged,
    hash-certified."""
    from hoops_edge_database_etl_spark.operators.multimodal import (
        pack_pcm16_stream,
        pcm16_features,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") % 32768)
            - 16384
        ).alias("smp"),
    )
    # r13: the partition-stream pack kernel is factored into
    # operators/multimodal.py (pack_pcm16_stream) so q480 shares it;
    # identical logic, byte-identical blobs.
    packed = pack_pcm16_stream(s)
    return pcm16_features(packed, id_col="media_id", pcm_col="pcm")


# --- video frame-sampling round trip (q146) -------------------------------

VID_N, VID_H, VID_W, VID_EVERY = 8, 4, 4, 2
_VID_FRAME_BYTES = VID_H * VID_W * 3


@query(
    "q146_video_frame_sample",
    oracle=f"""
    WITH ids AS (SELECT DISTINCT p_partkey % 32 AS media_id FROM part),
    fr AS (SELECT CAST(f.x AS BIGINT) AS frame_index
           FROM range(0, {VID_N}, {VID_EVERY}) f(x)),
    px AS (SELECT CAST(p.x AS BIGINT) AS off
           FROM range({VID_H * VID_W}) p(x))
    SELECT i.media_id, fr.frame_index,
           AVG(CAST((i.media_id * 7 + fr.frame_index * 13 + px.off * 3 + 0)
                    % 256 AS DOUBLE)) AS mean_r,
           AVG(CAST((i.media_id * 7 + fr.frame_index * 13 + px.off * 3 + 1)
                    % 256 AS DOUBLE)) AS mean_g,
           AVG(CAST((i.media_id * 7 + fr.frame_index * 13 + px.off * 3 + 2)
                    % 256 AS DOUBLE)) AS mean_b
    FROM ids i CROSS JOIN fr CROSS JOIN px
    GROUP BY i.media_id, fr.frame_index
    """,
)
def q146_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-as-binary ROUND TRIP (the q145 recipe, one modality over):
    each media id gets a deterministic {n}-frame {h}×{w}×3 raw-RGB
    "video" packed into ONE binary blob by a real numpy kernel
    (pixel = (id·7 + frame·13 + 3·offset + channel) mod 256 — the
    brief's sanctioned stand-in for codec output), then a mapInPandas
    stage does what a real video pipeline does at 100 TB: SLICE every
    {e}-th frame out of the blob by byte offset (no decode of skipped
    frames — the point of frame sampling), reshape, and emit per-frame
    channel means with the payload dropped. The oracle computes the
    same means straight from the generator formula, so any error in
    frame offsets, strides, or channel order corrupts the means and
    fails the hash. Frame means of uint8 over 16 pixels are exact
    dyadic doubles — order-independent.""".format(
        n=VID_N, h=VID_H, w=VID_W, e=VID_EVERY
    )
    import numpy as np
    import pandas as pd

    p = load(spark, sf_dir, "part")
    ids = p.select((F.col("p_partkey") % 32).cast("long").alias("media_id")).distinct()

    def pack(batches):
        for pdf in batches:
            out_ids, blobs = [], []
            for mid in pdf["media_id"]:
                mid = int(mid)
                frames = []
                for f in range(VID_N):
                    base = mid * 7 + f * 13
                    px = (base + np.arange(_VID_FRAME_BYTES, dtype=np.int64)) % 256
                    frames.append(px.astype(np.uint8))
                out_ids.append(mid)
                blobs.append(np.concatenate(frames).tobytes())
            yield pd.DataFrame({"media_id": out_ids, "video": blobs})

    packed = ids.mapInPandas(pack, schema="media_id long, video binary")

    def sample(batches):
        for pdf in batches:
            rid, rfr, rr, rg, rb = [], [], [], [], []
            for mid, raw in zip(pdf["media_id"], pdf["video"]):
                for f in range(0, VID_N, VID_EVERY):
                    chunk = raw[f * _VID_FRAME_BYTES : (f + 1) * _VID_FRAME_BYTES]
                    arr = np.frombuffer(chunk, dtype=np.uint8).reshape(
                        VID_H * VID_W, 3
                    ).astype(np.float64)
                    rid.append(int(mid))
                    rfr.append(f)
                    rr.append(float(arr[:, 0].mean()))
                    rg.append(float(arr[:, 1].mean()))
                    rb.append(float(arr[:, 2].mean()))
            yield pd.DataFrame(
                {
                    "media_id": rid,
                    "frame_index": rfr,
                    "mean_r": rr,
                    "mean_g": rg,
                    "mean_b": rb,
                }
            )

    return packed.mapInPandas(
        sample,
        schema="media_id long, frame_index long, mean_r double, mean_g double, mean_b double",
    )


# --- stable dense vocabulary ids (q148) -----------------------------------


@query(
    "q148_vocab_ids",
    oracle="""
    WITH tf AS (
      SELECT t.tok AS token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT string_split(text, ' ') AS w FROM documents),
           UNNEST(w) AS t(tok)
      WHERE t.tok <> ''
      GROUP BY t.tok
    )
    SELECT token, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT)
             AS vocab_id
    FROM tf
    """,
)
def q148_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary construction: every corpus token gets a
    DENSE, STABLE id in global frequency order (0 = most frequent —
    the id layout BPE/WordPiece vocabs ship with, and what embedding
    tables index by). The global ordering is the interesting part at
    scale: the oracle's ROW_NUMBER() OVER (ORDER BY …) is a
    SinglePartition sort, but the Spark plan routes through
    operators/rowids.py::stable_row_ids — repartitionByRange on
    (count desc, token), per-range row_number, triangular prefix
    offsets broadcast back — so a billion-type vocabulary numbers
    itself with no reducer ever holding more than one range (the q100
    machinery pointed at a sort key instead of arrival order). The
    count pass is one map-side-combining token shuffle (q51's shape).
    Downstream: q131's chunks + this table = the token-id corpus a
    trainer memory-maps."""
    from hoops_edge_database_etl_spark.operators.rowids import stable_row_ids

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return stable_row_ids(
        tf, [F.col("cnt").desc(), F.col("token").asc()], id_col="vocab_id"
    )


# ---------------------------------------------------------------------------
# Bigram LM surprise (q170): language-model quality scoring without logs.
# The fluency filter of a training-data pipeline — docs whose bigrams are
# rare GIVEN their unigrams read as disfluent/garbled and score high.
# ---------------------------------------------------------------------------


@query(
    "q170_bigram_surprise",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    uni AS (
      SELECT u.x AS tok, CAST(COUNT(*) AS BIGINT) AS c1
      FROM toks, UNNEST(w) AS u(x) GROUP BY u.x
    ),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS b
      FROM toks, UNNEST(range(1, greatest(len(w), 1))) AS t(i)
    ),
    bgc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY b),
    scored AS (
      SELECT bg.doc_id,
             CAST(floor(CAST(uni.c1 * 1000 AS DOUBLE) / bgc.c12) AS BIGINT) AS s
      FROM bg JOIN bgc ON bgc.b = bg.b JOIN uni ON uni.tok = bg.w1
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(s) AS BIGINT) AS surprise_total,
           CAST(SUM(s) AS DOUBLE) / COUNT(*) AS surprise_avg
    FROM scored GROUP BY doc_id
    """,
)
def q170_bigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram surprise: for each bigram occurrence (w1, w2),
    score ⌊1000·c(w1)/c(w1 w2)⌋ — the integer fixed-point inverse of the
    conditional frequency P(w2|w1) — and report the per-doc total and
    mean. High surprise = the document's word transitions are rare given
    its words = garbled/boilerplate-spliced text; this is the ln-free
    fixed-point form of bigram LM perplexity (Σ−log P would need ln,
    which is not correctly rounded across engines; the ⌊·⌋ score is an
    exact integer in BOTH, and per-doc sums of ints are order-free).

    Scale: two vocabulary-sized count tables (unigrams, bigrams) built
    with map-side combine, then the bigram stream joins both counts on
    their keys — shuffle joins on token keys whose fan-out is the
    document length, never quadratic. The Zipf head makes both count
    joins skew-prone: the q87 salting recipe applies to the hot tokens
    if AQE's skew split does not cover them."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    uni = toks.select(F.explode("w").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c1")
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("w"), 1, F.greatest(F.size("w") - 1, F.lit(0))),
                F.slice(F.col("w"), 2, F.greatest(F.size("w") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), F.concat_ws(" ", a, b).alias("b")),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.b").alias("b"))
    bgc = bg.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    scored = (
        bg.join(bgc, "b")
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .select(
            "doc_id",
            F.floor((F.col("c1") * 1000).cast("double") / F.col("c12"))
            .cast("bigint").alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("s").cast("bigint").alias("surprise_total"),
        (F.sum("s").cast("double") / F.count(F.lit(1))).alias("surprise_avg"),
    )


# ---------------------------------------------------------------------------
# OOV rate against a head vocabulary (q177): what fraction of each source's
# token stream falls outside the tokenizer's vocab — the coverage readout
# that decides vocab size (pairs with q148's id assignment).
# ---------------------------------------------------------------------------

OOV_VOCAB = 256


@query(
    "q177_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT source, u.x AS t
      FROM (SELECT source, string_split(text, ' ') AS w FROM documents), UNNEST(w) AS u(x)
    ),
    vocab AS (
      SELECT t FROM (
        SELECT t, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS rn
        FROM tok GROUP BY t
      ) WHERE rn <= {OOV_VOCAB}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS oov_rate
    FROM tok LEFT JOIN vocab ON vocab.t = tok.t
    GROUP BY source
    """,
)
def q177_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus's top-256
    head vocabulary (frequency-ordered, token tiebreak — q148's order).
    The head is selected with TakeOrdered (orderBy + limit pushes a
    per-partition top-k + single small merge, never a global sort of the
    vocabulary) and broadcast back onto the token stream; the per-source
    rollup is one map-side-combining shuffle. n_oov is an exact integer;
    the rate is one final division.

    At 100 TB: the vocabulary table is |V| ≪ corpus rows; the only
    full-corpus pass is the token count + the broadcast-join rollup —
    both linear, no token self-join anywhere. Zipf skew concentrates the
    head join on hot tokens, but a broadcast hash join has no per-key
    reducer to overwhelm."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "t")
        .limit(OOV_VOCAB)
        .select("t", F.lit(1).alias("__in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            (
                F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Sparse TF cosine between sources (q181): similarity over token-count
# vectors WITHOUT materializing vectors — the inverted-index dot product.
# The dense-embedding twin is q46; this is the classic sparse/bag-of-words
# form whose dimension is the vocabulary.
# ---------------------------------------------------------------------------


@query(
    "q181_sparse_cosine_sources",
    oracle="""
    WITH tf AS (
      SELECT source, u.x AS tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, string_split(text, ' ') AS w FROM documents),
           UNNEST(w) AS u(x)
      GROUP BY source, u.x
    ),
    nrm AS (
      SELECT source,
             sqrt(CAST(CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS VARCHAR) AS DOUBLE))
               AS nn
      FROM tf GROUP BY source
    ),
    dot AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(CAST(SUM(CAST(a.c AS DECIMAL(38,0)) * b.c) AS VARCHAR) AS DOUBLE)
               AS d
      FROM tf a JOIN tf b ON b.tok = a.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, d / (x.nn * y.nn) AS cosine
    FROM dot JOIN nrm x ON x.source = src_a JOIN nrm y ON y.source = src_b
    """,
)
def q181_sparse_cosine_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between each source's term-frequency
    vector, computed as an inverted-index join — never materializing a
    |vocab|-wide vector: dot(A,B) = Σ_tok tfA·tfB from ONE self-join of
    the (source, token, count) table on the token key, norms from the
    same table's per-source square sums. Products go through
    DECIMAL(38,0) (hot tokens square past int64 at corpus scale — the
    q152 rule) and the cosine is one float expression over exact sums.

    This is how you compare CORPORA (sources, domains, time slices) —
    the dense q46 shape compares documents. At web scale the token
    self-join is Zipf-skewed; the q84 stop-token cap or tf-idf damping
    bounds the hot rows, and the output stays |sources|² — tiny."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    nrm = tf.groupBy("source").agg(
        F.sqrt(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("string")
            .cast("double")
        ).alias("nn")
    )
    a = tf.select(F.col("source").alias("src_a"), "tok", F.col("c").alias("ca"))
    b = tf.select(F.col("source").alias("src_b"), "tok", F.col("c").alias("cb"))
    dot = (
        a.join(b, ["tok"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cb"))
            .cast("string")
            .cast("double")
            .alias("d")
        )
    )
    return (
        dot.join(nrm.withColumnRenamed("source", "src_a"), "src_a")
        .withColumnRenamed("nn", "na")
        .join(nrm.withColumnRenamed("source", "src_b"), "src_b")
        .select(
            "src_a", "src_b",
            (F.col("d") / (F.col("na") * F.col("nn"))).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Outer explode semantics (q192): the row-preservation contract of
# explode_outer — the difference between "no long tokens" and "document
# silently vanished from the report".
# ---------------------------------------------------------------------------


@query(
    "q192_explode_outer",
    oracle="""
    WITH arrs AS (
      SELECT source,
             list_filter(string_split(text, ' '), t -> len(t) >= 8) AS long_toks
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(greatest(len(long_toks), 1)) AS BIGINT) AS n_exploded_rows,
           CAST(SUM(CASE WHEN len(long_toks) = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_without,
           CAST(SUM(len(long_toks)) AS BIGINT) AS n_long_tokens
    FROM arrs GROUP BY source
    """,
)
def q192_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` row accounting: exploding each document's
    long-token array (len ≥ 8) with the OUTER variant keeps a NULL row
    for empty arrays, so the per-source rollup still counts every
    document — the oracle states the invariant arithmetically
    (rows = Σ max(|arr|, 1), docs-without = #empty arrays) and the hash
    match proves Spark's generator emits exactly that. A plain
    ``explode`` drops the empty-array documents and silently deflates
    n_docs — the classic fan-out bug in per-entity reports.

    Zero shuffles before the bounded rollup; generator + aggregate fuse
    into one whole-stage-codegen pass."""
    d = load(spark, sf_dir, "documents")
    arrs = d.select(
        "source",
        F.filter(F.split("text", " "), lambda t: F.length(t) >= 8).alias("long_toks"),
    )
    ex = arrs.select("source", F.explode_outer("long_toks").alias("tok"))
    return (
        ex.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exploded_rows"),
            F.sum(F.when(F.col("tok").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_without"),
            F.count("tok").cast("bigint").alias("n_long_tokens"),
        )
        .join(
            arrs.groupBy("source").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs")
            ),
            "source",
        )
        .select(
            "source", "n_docs", "n_exploded_rows", "n_docs_without", "n_long_tokens"
        )
    )


@query(
    "q266_safety_blocklist",
    oracle="""
    WITH scanned AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '),
                 x -> translate(x, '013457', 'oieast') = 'slow')) AS n_high,
             len(list_filter(string_split(text, ' '),
                 x -> translate(x, '013457', 'oieast') = 'big')) AS n_low
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_high AS BIGINT) AS n_high,
           CAST(n_low AS BIGINT) AS n_low,
           CASE WHEN n_high > 0 THEN 'block'
                WHEN n_low >= 3 THEN 'review'
                ELSE 'pass' END AS verdict
    FROM scanned
    """,
)
def q266_safety_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAFETY BLOCKLIST filter with evasion normalization — the
    tiered-severity screen a corpus runs before release: tokens are
    leetspeak-normalized (0→o, 1→i, 3→e … via translate, the cheap
    canonicalization that catches 'sl0w' for 'slow') and matched
    against severity tiers — any high-severity hit blocks, ≥3
    low-severity hits route to review, else pass (the q203 router's
    three-way verdict applied to safety). Matching is entirely
    array-side (filter + translate inside the scan projection, zero
    shuffle, no explode); a production list swaps the two stand-in
    terms for a broadcast blocklist join on the normalized token — the
    verdict CASE and tier structure are unchanged. Complements q98
    (PII redaction rewrites text; this gates documents)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def hits(word):
        return F.size(
            F.filter(
                toks,
                lambda t: F.translate(t, "013457", "oieast") == word,
            )
        ).cast("bigint")

    scanned = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        hits("slow").alias("n_high"),
        hits("big").alias("n_low"),
    )
    return scanned.select(
        "doc_id",
        "n_high",
        "n_low",
        F.when(F.col("n_high") > 0, "block")
        .when(F.col("n_low") >= 3, "review")
        .otherwise("pass")
        .alias("verdict"),
    )


@query(
    "q277_masking_policy",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
           concat(substr(c_name, 1, 9), repeat('*', length(c_name) - 9)) AS name_masked,
           CAST(floor(floor(c_acctbal * 100 + 0.5) / 100000) * 1000 AS BIGINT)
             AS acctbal_band_dollars,
           CAST(c_nationkey AS BIGINT) AS c_nationkey,
           md5(CAST(c_custkey AS VARCHAR) || ':tok') AS custkey_token
    FROM customer
    """,
)
def q277_masking_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-MASKING POLICY applied for an 'analyst' role — the
    row/column-level-security projection a governed warehouse serves
    instead of the base table: names keep their stable prefix and mask
    the identifying tail (length-preserving, so downstream width
    assumptions hold), balances coarsen to $1000 bands (the q241
    k-anonymity banding — the SAME generalization that made groups
    k-anonymous is what the mask exposes), and the key is replaced by
    its q186 pseudonymization token (joinable across masked tables,
    irreversible without the salt registry). Pure projection — zero
    shuffle, fully pushdown-compatible, and because every mask is a
    deterministic expression the policy is testable: the oracle IS the
    policy document. Row-level policies add a WHERE on the same view."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.concat(
            F.substring("c_name", 1, 9),
            F.expr("repeat('*', length(c_name) - 9)"),
        ).alias("name_masked"),
        (
            F.floor(
                F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)) / 100000
            )
            * 1000
        )
        .cast("bigint")
        .alias("acctbal_band_dollars"),
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(":tok"))).alias(
            "custkey_token"
        ),
    )


@query(
    "q286_dataset_fingerprint",
    oracle="""
    WITH hashed AS (
      SELECT CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                       1, 8) AS BIGINT) % 100 < 2 THEN 'test'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                       1, 8) AS BIGINT) % 100 < 5 THEN 'val'
                  ELSE 'train' END AS split,
             CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 2147483647 AS h
      FROM documents
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0))
                % 9223372036854775807 AS BIGINT) AS fingerprint,
           CAST(CAST(SUM(CAST(h AS DECIMAL(38,0)) * CAST(h AS DECIMAL(38,0)))
                AS DECIMAL(38,0)) % 9223372036854775807 AS BIGINT) AS fingerprint2
    FROM hashed GROUP BY split
    """,
)
def q286_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET VERSION FINGERPRINT — a content-address per split that
    training runs record so "trained on corpus v3" is checkable: each
    document contributes its 60-bit content hash, combined with
    COMMUTATIVE arithmetic (Σh and Σh² over 31-bit hash terms, exact in
    DECIMAL(38,0) to beyond 10^12 documents, one final mod 2⁶³−1 —
    order-independent, so no sort and no collect; the second moment
    catches the swap-two-docs collisions the plain sum misses). Any
    added, removed, or edited document changes the pair; byte-identical
    corpora agree regardless of partitioning (the repartition-proof
    gate covers this query too). The q173 Merkle diff answers WHICH
    rows differ; this answers the cheap question first — one combiner
    aggregate, three ints per split. Split keys are the q68 stable
    hash split (2/3/95)."""
    d = load(spark, sf_dir, "documents")
    bk = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bk < 2, "test").when(bk < 5, "val").otherwise("train")
    )
    # 31-bit terms accumulated in DECIMAL(38,0): per-term squares fit
    # int64 trivially, the decimal sum is exact past 10^12 rows, and the
    # final mod brings it back to one bigint per split.
    h = (
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("bigint")
        % 2147483647
    )
    hashed = d.select(split.alias("split"), h.alias("h"))
    return hashed.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(
            "CAST(CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0))"
            " % 9223372036854775807 AS BIGINT)"
        ).alias("fingerprint"),
        F.expr(
            "CAST(CAST(SUM(CAST(h AS DECIMAL(38,0)) * CAST(h AS DECIMAL(38,0)))"
            " AS DECIMAL(38,0)) % 9223372036854775807 AS BIGINT)"
        ).alias("fingerprint2"),
    )


KFOLD_K = 5


@query(
    "q303_grouped_kfold",
    oracle=f"""
    WITH folded AS (
      SELECT o.o_orderkey, o.o_custkey,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR) || ':fold'),
                  1, 8) AS BIGINT) % {KFOLD_K} AS fold
      FROM orders o
    )
    SELECT fold,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_groups,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM folded GROUP BY fold
    """,
)
def q303_grouped_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE K-FOLD assignment — the cross-validation split that
    respects entity boundaries: the fold is a function of the GROUP key
    (customer), never the row, so every order of a customer lands in
    the same fold and no entity leaks across the train/eval line (the
    grouped sibling of q68's doc-level split; leakage through shared
    groups is the classic CV inflation bug). Fold = md5(custkey)
    first-32-bits mod 5: deterministic, repartition-proof,
    stable under re-runs and engine swaps — a new row for an existing
    customer joins its fold with no reshuffling of anyone else (the
    property rand()-based splits lack). Output is the balance report a
    pipeline gates on: groups/rows/revenue per fold should be near-
    uniform; exact disjointness is property-tested. Plan: one scan
    projection + one 5-group rollup with COUNT DISTINCT on the
    group key (two-level agg, combiner-friendly)."""
    o = load(spark, sf_dir, "orders")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_custkey").cast("string"), F.lit(":fold"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % KFOLD_K
    )
    return (
        o.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            fold.alias("fold"),
        )
        .groupBy("fold")
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_groups"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


ENC_CORRUPT_MOD = 11  # docs hashing to 0 mod 11 get synthetic corruption


@query(
    "q304_encoding_audit",
    oracle=f"""
    WITH feed AS (
      SELECT doc_id, source,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':enc'),
                       1, 8) AS BIGINT) % {ENC_CORRUPT_MOD} = 0
                  THEN '<p>' || text || 'caf' || chr(233) ||
                       chr(65533) || '</p>'
                  ELSE text END AS text
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source,
             CAST(length(text) - length(replace(text, chr(65533), ''))
               AS BIGINT) AS n_replacement_chars,
             CAST((length(text) - length(replace(text, '</', ''))) / 2
               AS BIGINT) AS n_closing_tags,
             CAST(strlen(text) - length(text) AS BIGINT)
               AS n_multibyte_extra
      FROM feed
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_replacement_chars > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS docs_with_replacement,
           CAST(SUM(CASE WHEN n_closing_tags > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS docs_with_markup,
           CAST(SUM(n_multibyte_extra) AS BIGINT) AS multibyte_extra_bytes
    FROM scored GROUP BY source
    """,
)
def q304_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODING-HEALTH AUDIT — the corpus gate that catches U+FFFD
    replacement characters (lossy transcodes), residual HTML markup,
    and unexpected multibyte density before a tokenizer bakes them
    into a vocabulary. The clean synthetic corpus carries none, so a
    deterministic md5-selected 1/11 of docs is wrapped
    with <p> tags, a UTF-8 'é', and a U+FFFD — and the audit must
    flag EXACTLY that subset (property-tested against the injection
    list; audit and injection are separate expressions). Counting is
    replace()-difference arithmetic, not regex — byte-identical
    across engines where regex flavors drift — and multibyte density
    is octet_length − char length, zero for pure ASCII. All JVM
    column expressions in one scan + a per-source rollup; at 100 TB
    this is the cheapest possible pass over the text (no
    tokenization, no shuffling of document bodies)."""
    d = load(spark, sf_dir, "documents")
    corrupt = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":enc"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % ENC_CORRUPT_MOD
        == 0
    )
    feed = d.select(
        "doc_id",
        "source",
        F.when(
            corrupt,
            F.concat(
                F.lit("<p>"),
                F.col("text"),
                F.lit("café�</p>"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scored = feed.select(
        "source",
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("�"), F.lit("")))
        ).alias("n_replacement_chars"),
        (
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("</"), F.lit("")))
            )
            / 2
        )
        .cast("long")
        .alias("n_closing_tags"),
        (F.octet_length("text") - F.length("text")).alias("n_multibyte_extra"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_replacement_chars") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_with_replacement"),
        F.sum(F.when(F.col("n_closing_tags") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_with_markup"),
        F.sum("n_multibyte_extra").cast("bigint").alias("multibyte_extra_bytes"),
    )


@query(
    "q305_utf8_accounting",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS chars,
           CAST(SUM(strlen(text)) AS BIGINT) AS bytes,
           CAST(SUM(strlen(text)) AS DOUBLE) / SUM(length(text))
             AS bytes_per_char,
           CAST(SUM(CASE WHEN strlen(text) = length(text)
                         THEN 1 ELSE 0 END) AS BIGINT) AS ascii_only_docs
    FROM documents GROUP BY lang
    """,
)
def q305_utf8_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 BYTE ACCOUNTING per language — the storage/tokenizer
    planning number multilingual corpora need: chars vs encoded bytes
    (octet_length), the bytes-per-char premium (CJK ~3x, Latin-accent
    ~1.07x, ASCII exactly 1.0), and how many docs are pure ASCII.
    Byte-level BPE budgets, parquet size forecasts, and context-window
    economics all key off this ratio, and it's exact: two integer sums
    per language with one division at the edge (numerator and
    denominator are both reported, so downstream can re-derive any
    blended ratio without float re-aggregation — the q21 cross-multiply
    rule). Single scan, five-group rollup; string bodies never
    shuffle."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("chars"),
        F.sum(F.octet_length("text")).cast("bigint").alias("bytes"),
        (
            F.sum(F.octet_length("text")).cast("double")
            / F.sum(F.length("text"))
        ).alias("bytes_per_char"),
        F.sum(
            F.when(F.octet_length("text") == F.length("text"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("ascii_only_docs"),
    )


TRUNC_CONTEXT_TOKENS = 120  # context-window budget per document


@query(
    "q322_truncation_loss",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN n_tokens > {TRUNC_CONTEXT_TOKENS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_truncated,
           CAST(SUM(GREATEST(n_tokens - {TRUNC_CONTEXT_TOKENS}, 0)) AS BIGINT)
             AS tokens_lost,
           CAST(SUM(GREATEST(n_tokens - {TRUNC_CONTEXT_TOKENS}, 0)) * 1000000
                // SUM(n_tokens) AS BIGINT) AS loss_ppm
    FROM toks GROUP BY source
    """,
)
def q322_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATION-LOSS accounting — before fixing a context length for
    training or embedding, measure what a hard cut at
    120 tokens actually destroys: per source, docs
    affected and tokens lost, in exact ppm of the corpus. The loss
    curve across candidate budgets (re-run with a different literal,
    or one pass with an array of budgets) is how the 512-vs-1024-vs-
    2048 decision gets made on data instead of vibes — the cheap
    companion to q74's packing (which RESCUES the remainder this
    report writes off) and q245's length bucketing. Whitespace token
    counts reuse q51's rule (split on ' ' — byte-identical in both
    engines); one scan, per-source rollup, no shuffle of text
    bodies."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    B = TRUNC_CONTEXT_TOKENS
    lost = F.greatest(F.col("n_tokens") - B, F.lit(0).cast("long"))
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("n_tokens") > B, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_truncated"),
        F.sum(lost).cast("bigint").alias("tokens_lost"),
        F.expr(
            f"SUM(GREATEST(n_tokens - {B}, 0)) * 1000000 DIV SUM(n_tokens)"
        )
        .cast("bigint")
        .alias("loss_ppm"),
    )


MIX_WEIGHTS_PPM = {  # target training-mix shares (sum = 1e6)
    "en": 400_000,
    "zh": 200_000,
    "de": 150_000,
    "fr": 150_000,
    "es": 100_000,
}
MIX_SCHEDULE_LEN = 200
_MIX_WEIGHTS_SQL = ", ".join(
    f"('{k}', {v})" for k, v in MIX_WEIGHTS_PPM.items()
)


@query(
    "q326_mix_schedule",
    oracle=f"""
    WITH w AS (SELECT * FROM (VALUES {_MIX_WEIGHTS_SQL}) AS v(lang, w_ppm)),
    ranked AS (
      SELECT d.lang, d.doc_id, w.w_ppm,
             ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY d.doc_id) AS rn
      FROM documents d JOIN w ON w.lang = d.lang
    ),
    pos AS (
      SELECT lang, doc_id, rn,
             CAST(rn AS BIGINT) * 1000000 // w_ppm AS vtime
      FROM ranked
    ),
    sched AS (
      SELECT lang, doc_id, vtime
      FROM pos ORDER BY vtime, lang, rn LIMIT {MIX_SCHEDULE_LEN}
    )
    SELECT ROW_NUMBER() OVER (ORDER BY vtime, lang, doc_id) AS schedule_idx,
           lang, doc_id, vtime
    FROM sched
    """,
)
def q326_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC DATA-MIX SCHEDULE — q231's temperature mix says
    HOW MUCH of each source a training run should see; this emits the
    ORDER: stride scheduling (WFQ / lottery-free fair queuing), where
    the r-th document of language L is released at virtual time
    r·1e6 DIV weight_ppm and the global schedule is the virtual-time
    sort. The WFQ bound guarantees every prefix tracks the target mix
    within one stride per source — no RNG, no epoch-boundary
    clumping, and the schedule is reproducible across engines, runs,
    and resumptions (resume = seek to vtime, the q100 row-id
    discipline applied to curriculum order) — property-tested on
    prefix composition. Per-source ranks are partitioned windows;
    the global sort exists only because a SCHEDULE is a total order —
    emitted here as a bounded 200-row prefix (orderBy
    + limit = distributed TakeOrdered, no single-reducer window; the
    full 100 TB schedule would go to a range-partitioned writer
    sorted WITHIN files by vtime)."""
    d = load(spark, sf_dir, "documents")
    w = spark.createDataFrame(
        list(MIX_WEIGHTS_PPM.items()), "lang string, w_ppm long"
    )
    wr = Window.partitionBy("lang").orderBy("doc_id")
    ranked = (
        d.join(F.broadcast(w), "lang")
        .select("lang", "doc_id", "w_ppm")
        .withColumn("rn", F.row_number().over(wr).cast("long"))
    )
    pos = ranked.select(
        "lang",
        "doc_id",
        "rn",
        F.expr("rn * 1000000 DIV w_ppm").alias("vtime"),
    )
    sched = pos.orderBy("vtime", "lang", "rn").limit(MIX_SCHEDULE_LEN)
    wi = Window.orderBy("vtime", "lang", "doc_id")
    return sched.select(
        F.row_number().over(wi).cast("bigint").alias("schedule_idx"),
        "lang",
        "doc_id",
        F.col("vtime").cast("bigint").alias("vtime"),
    )


@query(
    "q354_randomized_response",
    oracle="""
    WITH truth AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS sensitive,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':rr'),
                  1, 8) AS BIGINT) % 4 AS coin
      FROM documents
    ),
    reported AS (
      -- Warner RR: with prob 1/2 report truth (coins 0,1); else report
      -- the coin's parity (coin 2 -> 1, coin 3 -> 0)
      SELECT sensitive,
             CASE WHEN coin <= 1 THEN sensitive
                  WHEN coin = 2 THEN 1 ELSE 0 END AS answer
      FROM truth
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(answer) AS BIGINT) AS n_yes,
           CAST(SUM(sensitive) AS BIGINT) AS n_true,
           (CAST(SUM(answer) AS DOUBLE) / COUNT(*) - 0.25) / 0.5
             AS estimated_rate,
           CAST(SUM(sensitive) AS DOUBLE) / COUNT(*) AS true_rate
    FROM reported
    """,
)
def q354_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOMIZED RESPONSE — the original local-DP mechanism (Warner
    1965, the ancestor of RAPPOR): each respondent answers truthfully
    with probability 1/2, else answers a fair coin — so any single
    answer is deniable (ln(3)-LDP), yet the population rate debiases
    exactly: π̂ = (p_yes − 1/4)/(1/2). The "randomness" is md5 coin
    bits (the house determinism rule — a per-record hash coin is how
    production LDP clients derandomize for replay anyway), so the
    oracle can check BOTH halves: the mechanism's reported counts and
    the debiased estimate, against the ground truth the mechanism is
    hiding (is-English here). The estimate is one fixed float
    expression off integer counts; the property test checks the
    debiasing identity and that the estimate lands near truth while
    individual answers disagree with truth ~25% of the time. One
    scan, one global aggregate — privacy at 100 TB costs nothing at
    query time; the noise was paid at collection."""
    d = load(spark, sf_dir, "documents")
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":rr"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 4
    )
    truth = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("sensitive"),
        coin.alias("coin"),
    )
    reported = truth.select(
        "sensitive",
        F.when(F.col("coin") <= 1, F.col("sensitive"))
        .when(F.col("coin") == 2, F.lit(1))
        .otherwise(F.lit(0))
        .alias("answer"),
    )
    return reported.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("answer").cast("bigint").alias("n_yes"),
        F.sum("sensitive").cast("bigint").alias("n_true"),
    ).selectExpr(
        "n",
        "n_yes",
        "n_true",
        "(CAST(n_yes AS DOUBLE) / n - 0.25) / 0.5 AS estimated_rate",
        "CAST(n_true AS DOUBLE) / n AS true_rate",
    )


@query(
    "q368_chao1_richness",
    oracle="""
    WITH toks AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY 1, 2
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS s_obs,
           CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(COUNT(*)
                + SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)
                  * SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)
                  // (2 * GREATEST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END), 1))
             AS BIGINT) AS chao1_estimate
    FROM freq GROUP BY lang
    """,
)
def q368_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAO1 RICHNESS — "how much vocabulary have we NOT seen yet":
    the nonparametric lower bound on total distinct types,
    S_obs + F1²/(2·F2), driven entirely by the singleton and
    doubleton counts (many once-seen words ⇒ the corpus is still
    discovering; no singletons ⇒ coverage is saturated). Ecology's
    species estimator is the right tool for corpus planning — "will
    10x more crawl find new vocabulary?" — and for sizing
    vocabularies before a q229 BPE train; it's the question q110's
    head report and q177's OOV rate circle without answering. Pure
    integer pipeline: token histogram → conditional counts → one
    floor division (F2 guarded to 1, the standard bias-corrected
    fallback). The frequency histogram is the only shuffle; the F1/F2
    reduction is map-side combined. Property-tested: estimate >=
    observed, saturated synthetic corpora collapse to S_obs, and a
    singleton-heavy corpus projects large unseen mass."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("w"))
    freq = toks.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    return freq.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
        F.expr(
            "CAST(COUNT(*) + SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)"
            " * SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)"
            " DIV (2 * GREATEST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END), 1))"
            " AS BIGINT)"
        ).alias("chao1_estimate"),
    )


@query(
    "q371_adversarial_validation",
    oracle="""
    WITH labeled AS (
      SELECT n_chars,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                    || ':split'), 1, 8) AS BIGINT) % 100 < 80
                  THEN 0 ELSE 1 END AS is_test
      FROM documents
    ),
    pts AS (
      SELECT n_chars,
             CAST(SUM(is_test) AS BIGINT) AS a,
             CAST(SUM(1 - is_test) AS BIGINT) AS b
      FROM labeled GROUP BY n_chars
    ),
    cum AS (
      SELECT n_chars, a, b,
             COALESCE(SUM(a + b) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before_n
      FROM pts
    ),
    -- rank sums are the q402 overflow class (rt ~ n^2): DECIMAL(38,0)
    -- accumulator and u_doubled output, both engines
    t AS (
      SELECT CAST(SUM(a) AS BIGINT) AS nt, CAST(SUM(b) AS BIGINT) AS nc,
             CAST(SUM(CAST(a AS DECIMAL(38,0)) * (2 * before_n + a + b + 1))
                  AS DECIMAL(38,0)) AS rt_doubled
      FROM cum
    ),
    u AS (
      SELECT nt, nc,
             CAST(rt_doubled - CAST(nt AS DECIMAL(38,0)) * (nt + 1)
                  AS DECIMAL(38,0)) AS u_doubled
      FROM t
    )
    SELECT nt AS n_test, nc AS n_train,
           CAST(u_doubled AS BIGINT) AS u_doubled,
           CAST(u_doubled AS DOUBLE) / (2.0 * nt * nc) AS auc,
           abs(CAST(u_doubled AS DOUBLE) / (2.0 * nt * nc)
               - 0.5) < 0.1 AS split_unbiased
    FROM u
    """,
)
def q371_adversarial_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADVERSARIAL VALIDATION — can a model tell train from test? If a
    classifier separates the q68 split better than chance, the split
    leaks a covariate shift and every offline metric computed on it
    is suspect (the Kaggle-born check that caught countless
    time-leaky splits). The "classifier" here is the single feature
    n_chars and the metric is exact AUC via the rank identity —
    q297's doubled-midrank machinery with the arms replaced by
    split membership, so the whole test is one bounded-support
    cumulative pass, no model fit at all (a feature with AUC 0.5
    can't help any classifier built on it; run once per candidate
    feature for the full audit). The verdict column applies a
    |AUC − 0.5| < 0.1 band — wide enough that sampling noise at a few
    hundred docs (sd ≈ 0.03 here) doesn't page anyone, tight enough
    that any real shift trips it. A proper hash split passes BY
    CONSTRUCTION — and the property test plants a biased
    length-based split to show the check failing loudly."""
    d = load(spark, sf_dir, "documents")
    is_test = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
        >= 80
    ).cast("long")
    labeled = d.select("n_chars", is_test.alias("is_test"))
    pts = labeled.groupBy("n_chars").agg(
        F.sum("is_test").cast("long").alias("a"),
        F.sum(1 - F.col("is_test")).cast("long").alias("b"),
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    cum = pts.withColumn(
        "before_n", F.coalesce(F.sum(F.col("a") + F.col("b")).over(w), F.lit(0))
    )
    # rank sums are the q402 overflow class (rt ~ n^2, past int64 at a
    # few billion docs): DECIMAL(38,0) accumulator and u_doubled output
    t = cum.agg(
        F.sum("a").cast("long").alias("nt"),
        F.sum("b").cast("long").alias("nc"),
        F.sum(
            F.col("a").cast("decimal(38,0)")
            * (2 * F.col("before_n") + F.col("a") + F.col("b") + 1)
        )
        .cast("decimal(38,0)")
        .alias("rt_doubled"),
    )
    t2 = t.selectExpr(
        "nt",
        "nc",
        "CAST(rt_doubled - CAST(nt AS DECIMAL(38,0)) * (nt + 1)"
        " AS DECIMAL(38,0)) AS u_doubled",
    )
    # 2.0 * nt * nc promotes to double BEFORE multiplying (2*nt*nc in
    # long is itself the n^2 class). The accumulators stay DECIMAL(38,0)
    # internally; the OUTPUT is cast to BIGINT because the driver hasher
    # serializes DECIMAL differently across engines (r10 red row) —
    # u_doubled <= 2*nt*nc fits int64 up to ~2.1e9 docs per side, and
    # ANSI mode throws rather than wraps if that bound is ever crossed.
    return t2.selectExpr(
        "nt AS n_test",
        "nc AS n_train",
        "CAST(u_doubled AS BIGINT) AS u_doubled",
        "CAST(u_doubled AS DOUBLE) / (2.0 * nt * nc) AS auc",
        "abs(CAST(u_doubled AS DOUBLE) / (2.0 * nt * nc) - 0.5)"
        " < 0.1 AS split_unbiased",
    )


KNAPSACK_TOKEN_BUDGET = 10_000


@query(
    "q375_fractional_knapsack",
    oracle=f"""
    WITH items AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS value
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, tokens, value,
             SUM(tokens) OVER (
               ORDER BY value * 1000000 // tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM items
    )
    SELECT doc_id, tokens, value,
           CAST(value * 1000000 // tokens AS BIGINT) AS density_ppm,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CASE WHEN cum_tokens <= {KNAPSACK_TOKEN_BUDGET} THEN 1000000
                ELSE CAST(({KNAPSACK_TOKEN_BUDGET} - (cum_tokens - tokens))
                     * 1000000 // tokens AS BIGINT) END AS take_ppm
    FROM ranked
    WHERE cum_tokens - tokens < {KNAPSACK_TOKEN_BUDGET}
    """,
)
def q375_fractional_knapsack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRACTIONAL KNAPSACK curation — spend a 10000-
    token training budget on the docs with the best value-per-token
    (distinct-vocabulary yield here; any quality score slots in):
    sort by density, take greedily, and split the ONE boundary doc
    fractionally (its take_ppm is the truncation ratio a q322-style
    cut applies) — for the fractional relaxation this greedy is
    PROVABLY optimal, which makes the output a certified upper bound
    on every 0/1 selection policy the curation team debates. Exact
    ppm densities with doc-id tiebreaks; the cumulative-token window
    runs over the corpus ordered by density — bounded here, and at
    100 TB it's the q74 range-partitioned cumsum on the density key
    (the same two-pass shape, different sort). Output is only the
    funded prefix — budget-sized, not corpus-sized. Property-tested:
    full docs + the boundary fraction hit the budget EXACTLY, and no
    excluded doc has higher density than any included one."""
    d = load(spark, sf_dir, "documents")
    items = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("tokens"),
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("value"),
    )
    w = Window.orderBy(
        F.expr("value * 1000000 DIV tokens").desc(), "doc_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = items.withColumn("cum_tokens", F.sum("tokens").over(w))
    B = KNAPSACK_TOKEN_BUDGET
    return ranked.filter(F.col("cum_tokens") - F.col("tokens") < B).select(
        "doc_id",
        "tokens",
        "value",
        F.expr("value * 1000000 DIV tokens").cast("bigint").alias("density_ppm"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.when(F.col("cum_tokens") <= B, F.lit(1_000_000))
        .otherwise(
            F.expr(f"({B} - (cum_tokens - tokens)) * 1000000 DIV tokens")
        )
        .cast("bigint")
        .alias("take_ppm"),
    )


@query(
    "q383_langid_eval",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w
                  FROM documents),
    preds AS (
      SELECT lang AS labeled_lang,
             {{argmax}} AS predicted_lang
      FROM toks
    )
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM preds GROUP BY labeled_lang, predicted_lang
    """.format(
        argmax=_argmax_case({lang: _score_duck(lang) for lang in LANG_MARKERS})
    ),
)
def q383_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANG-ID CONFUSION MATRIX — q49 ships a classifier; this grades
    it: the full labeled-vs-predicted language matrix, whose diagonal
    mass is accuracy and whose off-diagonal cells name the SPECIFIC
    confusions (Romance-language bleed, zh washing out on short docs)
    — the per-class truth the q339 one-vs-rest scaffolding then
    summarizes. Evaluating a REGISTERED operator against labels the
    corpus already carries is the cheapest eval in the repo: the
    classifier is the same shuffle-free expression q49 compiles, and
    the matrix is one small groupBy — the pattern (ship the op, ship
    its grade) the dedup (q308), ANN (q251/q345), and forecast (q321)
    families follow. At 100 TB the labeled slice is the sample you
    paid annotators for; the matrix costs one pass over it."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.split("text", " ").alias("w"))
    scores = {lang: _score_expr(lang) for lang in LANG_MARKERS}
    preds = toks.select(
        F.col("lang").alias("labeled_lang"),
        F.expr(_argmax_case(scores)).alias("predicted_lang"),
    )
    return preds.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


PREF_MARGIN = 0.15  # minimum quality gap for a trustworthy pair
PREF_PAIRS_PER_GROUP = 5


@query(
    "q404_preference_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, length(text) AS n_chars, string_split(text, ' ') AS w
      FROM documents
    ),
    q AS (
      SELECT doc_id, lang,
             0.4 * least(CAST(len(w) AS DOUBLE) / 50, 1.0)
               + 0.4 * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
               + 0.2 * least((CAST(n_chars - len(w) + 1 AS DOUBLE) / len(w))
                             / 6, 1.0) AS quality
      FROM t
    ),
    pairs AS (
      SELECT a.lang, a.doc_id AS chosen, b.doc_id AS rejected,
             a.quality - b.quality AS gap
      FROM q a JOIN q b
        ON b.lang = a.lang AND a.quality - b.quality >= {PREF_MARGIN}
    ),
    ranked AS (
      SELECT lang, chosen, rejected, gap,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY gap DESC, chosen, rejected) AS rnk
      FROM pairs
    )
    SELECT lang, chosen, rejected, gap, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {PREF_PAIRS_PER_GROUP}
    """,
)
def q404_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR MINING — DPO/RLHF data prep from scored corpora:
    within each group (language here; prompt-id in production), emit
    (chosen, rejected) pairs whose quality gap clears 0.15 —
    the margin is the label-noise guard, because a pair separated by
    less than scorer noise teaches the reward model static — capped
    at the 5 widest gaps per group (extreme
    pairs are the cheapest signal; NEAR pairs are curriculum for
    later rounds — flip the ORDER BY). Quality is q50's composite
    verbatim (one formula, composed — the q70 discipline), and the
    per-group rank window is bounded by the cap.

    The pair join is EXTREME-PRUNED, not all-pairs (round 8: the sf1
    soak measured the brute-force join at slope 63 — docs-per-lang²
    workload growth): a pair can rank in the top 5 by
    (gap DESC, chosen, rejected) ONLY if its chosen is among the
    lang's top 5 qualities and its rejected among the bottom 5
    (otherwise 5 docs each yield a strictly earlier-ranked pair —
    greater gap, or equal gap with a smaller tiebreak id). Two rank
    windows reduce each lang to 5 + 5 candidate docs, the join is
    5x5 per group, and the result is provably IDENTICAL to the
    all-pairs form — the oracle still computes the brute-force join,
    so the hash check is the proof on every run. Property-tested:
    every gap >= margin, chosen quality > rejected quality, per-group
    caps hold."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.length("text").alias("n_chars"),
        F.split("text", " ").alias("w"),
    )
    _, _, _, quality = _quality_exprs()
    q = t.select("doc_id", "lang", quality.alias("quality"))
    k = PREF_PAIRS_PER_GROUP
    wa = Window.partitionBy("lang").orderBy(F.col("quality").desc(), "doc_id")
    wb = Window.partitionBy("lang").orderBy(F.col("quality").asc(), "doc_id")
    a = (
        q.withColumn("ra", F.row_number().over(wa))
        .filter(F.col("ra") <= k)
        .select(
            F.col("lang").alias("lang"),
            F.col("doc_id").alias("chosen"),
            F.col("quality").alias("qa"),
        )
    )
    b = (
        q.withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= k)
        .select(
            F.col("lang").alias("lang2"),
            F.col("doc_id").alias("rejected"),
            F.col("quality").alias("qb"),
        )
    )
    pairs = a.join(
        b,
        (F.col("lang") == F.col("lang2"))
        & (F.col("qa") - F.col("qb") >= PREF_MARGIN),
    ).select("lang", "chosen", "rejected", (F.col("qa") - F.col("qb")).alias("gap"))
    w = Window.partitionBy("lang").orderBy(
        F.col("gap").desc(), "chosen", "rejected"
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= PREF_PAIRS_PER_GROUP)
        .select("lang", "chosen", "rejected", "gap", F.col("rnk").cast("bigint"))
    )


@query(
    "q427_good_turing",
    oracle="""
    WITH tf AS (
      SELECT l_partkey, l_suppkey, CAST(COUNT(*) AS BIGINT) AS r
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
    fof AS (
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tf
      WHERE r <= 21 GROUP BY r
    )
    SELECT f.r, f.n_r,
           CAST(COALESCE(f2.n_r, 0) AS BIGINT) AS n_r_next,
           (CAST(f.r + 1 AS DOUBLE) * COALESCE(f2.n_r, 0)) / f.n_r
             AS r_star,
           (1.0 * (SELECT n_r FROM fof WHERE r = 1)) / t.n AS p0_unseen_mass
    FROM fof f
    LEFT JOIN fof f2 ON f2.r = f.r + 1
    CROSS JOIN total t
    WHERE f.r <= 20
    """,
)
def q427_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOOD-TURING frequency smoothing over the observed (part, supplier)
    sourcing pairs — the frequency-of-frequencies table N_r and the adjusted count
    r* = (r+1)·N_{r+1}/N_r for the count head (r <= 20), plus the
    Good-Turing unseen-probability mass P₀ = N₁/N: the
    quantities q234's Kneser-Ney continuation counts and any held-out
    LM estimate start from (singletons predict the unseen — Good 1953).
    The species here are sourcing relationships: ~86% of observed pairs
    are singletons or doubletons, so P₀ estimates the probability the
    NEXT lineitem uses a never-seen part×supplier combination — the
    catalog-completeness question q367's capture-recapture asks with
    two samples, answered from one (the document vocabulary is the
    wrong domain for this estimator: 31 tokens, min count 26 — no
    tail; choosing species WITH a tail is the first Good-Turing
    decision).
    The simple estimator is used verbatim (no log-log regression
    smoothing of the N_r tail — that needs a fit; the head r <= 20 is
    where N_r is large and the raw estimator is stable, and the cutoff
    is explicit rather than hidden). Everything is exact integer
    counts from one token scan + one frequency-of-frequencies
    aggregate (both map-side combinable; the fof table is ~20 rows at
    ANY corpus size); r* and P₀ are single float divisions.
    Property tests: Σ over the full tf of r·(#tokens at r) == N,
    r* < r+1 always, numpy replay of r* from raw counts, and the
    textbook sanity that Σ N_{r+1}·(r+1) mass-conserves against the
    discount (what leaves the r-bucket funds r+1 and P₀)."""
    li = load(spark, sf_dir, "lineitem")
    tf = li.groupBy("l_partkey", "l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("r")
    )
    total = li.agg(F.count(F.lit(1)).cast("long").alias("n"))
    fof = (
        tf.filter(F.col("r") <= 21)
        .groupBy("r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    )
    f2 = fof.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next"))
    n1 = fof.filter(F.col("r") == 1).select(F.col("n_r").alias("n1"))
    return (
        fof.filter(F.col("r") <= 20)
        .join(f2, "r", "left")
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(n1))
        .selectExpr(
            "r",
            "n_r",
            "CAST(COALESCE(n_r_next, 0) AS BIGINT) AS n_r_next",
            "(CAST(r + 1 AS DOUBLE) * COALESCE(n_r_next, 0)) / n_r AS r_star",
            "(1.0D * n1) / n AS p0_unseen_mass",
        )
    )


@query(
    "q461_gopher_quality_rules",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(len(l) AS BIGINT) AS wc,
             CAST(list_sum(list_transform(l, x -> len(x))) AS BIGINT) AS chars,
             CAST(len(list_filter(l, x -> regexp_matches(x, '^[A-Za-z]+$')))
                  AS BIGINT) AS n_alpha,
             CAST(CASE WHEN list_contains(l, 'the') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(l, 'a') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(l, 'to') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(l, 'of') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(l, 'and') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(l, 'that') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(l, 'have') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(l, 'with') THEN 1 ELSE 0 END
                  AS BIGINT) AS n_stop,
             CAST(list_max(list_transform(list_distinct(l),
                    t -> len(list_filter(l, x -> x = t)))) AS BIGINT) AS max_tf
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    )
    SELECT doc_id, wc, chars, n_alpha, n_stop, max_tf,
           wc BETWEEN 50 AND 100000 AS r_wordcount,
           3 * wc <= chars AND chars <= 10 * wc AS r_meanlen,
           5 * n_alpha >= 4 * wc AS r_alpha,
           n_stop >= 2 AS r_stopwords,
           5 * max_tf <= wc AS r_topword,
           (wc BETWEEN 50 AND 100000)
             AND 3 * wc <= chars AND chars <= 10 * wc
             AND 5 * n_alpha >= 4 * wc
             AND n_stop >= 2
             AND 5 * max_tf <= wc AS passes
    FROM f
    """,
)
def q461_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER-STYLE QUALITY FILTER battery (Rae et al. 2021's
    MassiveText rules, the standard pretraining pre-filter): word
    count in [50, 1e5]; mean word length in [3, 10]; ≥80%% alphabetic
    words; ≥2 distinct required stopwords (Gopher's list with 'be'→'a' —
    the required-word set is always tuned to the corpus' function
    words, and this vocabulary has 'a'); most-frequent-word share
    ≤20%% (the repetition proxy). Every threshold is CROSS-MULTIPLIED
    (3·wc ≤ chars ≤ 10·wc, 5·n_alpha ≥ 4·wc, 5·max_tf ≤ wc) so the
    entire battery is integer comparisons — no float ratio ever
    exists, hence nothing to drift between engines. All six features
    come from array HOFs over the split text (filter/transform/
    aggregate — JVM codegen, no explode, no UDF, no shuffle: the scan
    IS the plan); max_tf's distinct×filter inner product is O(|vocab|
    ·wc) per doc, bounded by the 31-term vocab here and by
    stoplist-truncated vocab at scale. At 100 TB this is the
    embarrassingly-parallel map stage every corpus pass starts with;
    per-rule booleans ship alongside the verdict so the downstream
    funnel (q50's quality score, q69's canonical corpus) can audit
    WHICH rule rejected a doc."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    add = lambda acc, v: acc + v  # noqa: E731
    stops = ["the", "a", "to", "of", "and", "that", "have", "with"]
    n_stop = None
    for s in stops:
        t = F.when(F.array_contains("l", s), 1).otherwise(0)
        n_stop = t if n_stop is None else n_stop + t
    f = d.select(
        "doc_id",
        F.size("l").cast("long").alias("wc"),
        F.aggregate(
            F.transform("l", lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            add,
        ).alias("chars"),
        F.size(F.filter("l", lambda x: x.rlike("^[A-Za-z]+$")))
        .cast("long")
        .alias("n_alpha"),
        n_stop.cast("long").alias("n_stop"),
        F.array_max(
            F.transform(
                F.array_distinct("l"),
                lambda t: F.size(F.filter("l", lambda x: x == t)),
            )
        )
        .cast("long")
        .alias("max_tf"),
    )
    r1 = (F.col("wc") >= 50) & (F.col("wc") <= 100000)
    r2 = (3 * F.col("wc") <= F.col("chars")) & (F.col("chars") <= 10 * F.col("wc"))
    r3 = 5 * F.col("n_alpha") >= 4 * F.col("wc")
    r4 = F.col("n_stop") >= 2
    r5 = 5 * F.col("max_tf") <= F.col("wc")
    return f.select(
        "doc_id",
        "wc",
        "chars",
        "n_alpha",
        "n_stop",
        "max_tf",
        r1.alias("r_wordcount"),
        r2.alias("r_meanlen"),
        r3.alias("r_alpha"),
        r4.alias("r_stopwords"),
        r5.alias("r_topword"),
        (r1 & r2 & r3 & r4 & r5).alias("passes"),
    )


@query(
    "q471_shuffle_audit",
    oracle="""
    WITH adj AS (
      SELECT source,
             LAG(source) OVER (ORDER BY doc_id) AS prev
      FROM documents
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN source = prev THEN 1 ELSE 0 END) AS BIGINT)
               AS n_adjacent_same
      FROM adj
    ),
    e AS (
      SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS exp_num
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY source)
    )
    SELECT a.n, a.n_adjacent_same, e.exp_num,
           CAST(a.n_adjacent_same * a.n AS DOUBLE) / CAST(e.exp_num AS DOUBLE)
             AS clustering_ratio,
           CAST(a.n_adjacent_same * a.n AS DOUBLE) / CAST(e.exp_num AS DOUBLE)
             < 1.2 AS well_shuffled
    FROM a CROSS JOIN e
    """,
)
def q471_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-QUALITY AUDIT of the training-stream order — pretraining
    loaders assume the corpus is well-mixed; source-clustered runs
    (all of crawl A, then all of crawl B) bias every gradient window.
    Statistic: the count A of ADJACENT same-source pairs in doc_id
    order versus its exact expectation under a uniform random
    permutation, E[A] = (n−1)·Σc_s(c_s−1)/(n(n−1)) = Σc_s(c_s−1)/n —
    so clustering_ratio = A·n / Σc_s(c_s−1) is ≈1 for a good shuffle,
    ≫1 for source-sorted order, ≪1 for round-robin (anti-clustered;
    both extremes are non-random — the q468 runs-test logic on a
    k-category stream). Exact integers end-to-end, one division. The
    adjacency count needs only each row's neighbor, so the Spark side
    avoids any N-row global window: repartitionByRange(doc_id),
    per-range LAG, then the ≤#partitions boundary rows (min_by/max_by
    per range) stitch cross-range pairs through a window over that
    TINY table ordered by range floor — q74's two-pass discipline
    applied to adjacency instead of prefix sums. The oracle uses the
    plain global LAG (DuckDB is single-node; the shapes differ, the
    answer cannot)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    ranged = d.repartitionByRange("doc_id").withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy("doc_id")
    intra = ranged.withColumn("prev", F.lag("source").over(w))
    a_intra = intra.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("source") == F.col("prev"), 1).otherwise(0))
        .cast("long")
        .alias("a_in"),
    )
    bounds = ranged.groupBy("__pid").agg(
        F.min("doc_id").alias("lo"),
        F.expr("min_by(source, doc_id)").alias("first_s"),
        F.expr("max_by(source, doc_id)").alias("last_s"),
    )
    wb = Window.orderBy("lo")  # ≤ #shuffle-partitions rows — bounded
    a_cross = bounds.withColumn("prev_last", F.lag("last_s").over(wb)).agg(
        F.sum(F.when(F.col("first_s") == F.col("prev_last"), 1).otherwise(0))
        .cast("long")
        .alias("a_x")
    )
    e = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("exp_num")
        )
    )
    ratio = (
        (F.col("a_in") + F.col("a_x")) * F.col("n")
    ).cast("double") / F.col("exp_num").cast("double")
    return (
        a_intra.crossJoin(F.broadcast(a_cross))
        .crossJoin(F.broadcast(e))
        .select(
            "n",
            (F.col("a_in") + F.col("a_x")).alias("n_adjacent_same"),
            "exp_num",
            ratio.alias("clustering_ratio"),
            (ratio < 1.2).alias("well_shuffled"),
        )
    )


@query(
    "q480_pcm_silence_runs",
    oracle="""
    WITH s AS (
      SELECT user_id,
             (CAST(floor(value * 100 + 0.5) AS BIGINT) % 32768) - 16384 AS smp,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    frames AS (
      SELECT user_id AS media_id, (rn - 1) // 16 AS frame_idx,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(smp * smp) AS BIGINT) AS energy
      FROM s GROUP BY 1, 2
    ),
    flagged AS (
      SELECT media_id, frame_idx, n, energy,
             CASE WHEN energy < n * 64000000 THEN 1 ELSE 0 END AS silent
      FROM frames
    ),
    islands AS (
      SELECT media_id, silent,
             frame_idx - ROW_NUMBER() OVER (PARTITION BY media_id, silent
                                            ORDER BY frame_idx) AS grp
      FROM flagged
    ),
    runs AS (
      SELECT media_id, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM islands WHERE silent = 1 GROUP BY media_id, grp
    )
    SELECT f.media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(f.silent) AS BIGINT) AS n_silent,
           COALESCE(r.n_runs, 0) AS n_runs,
           COALESCE(r.longest, 0) AS longest_run
    FROM flagged f
    LEFT JOIN (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
                      CAST(MAX(run_len) AS BIGINT) AS longest
               FROM runs GROUP BY media_id) r ON r.media_id = f.media_id
    GROUP BY f.media_id, r.n_runs, r.longest
    """,
)
def q480_pcm_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SILENCE / VOICE-ACTIVITY SEGMENTATION over raw PCM16 binary —
    the audio leg of the multimodal surface doing real DSP work: each
    media's waveform (q145's deterministic int16 fixture, PACKED into
    true binary by the grouped kernel) decodes once in an
    Arrow-batched mapInPandas stage that emits per-16-sample-frame
    EXACT int64 energies; everything after is declarative — a frame
    is silent iff energy < n·8000² (cross-multiplied, ragged final
    frame handled by the per-frame sample count), and silent runs
    segment via the gaps-and-islands rank-difference trick (q147's
    device on frames instead of intervals). Output per media: frame
    count, silent frames, number of silence segments, longest
    segment — the trim/split decisions an audio-curation pipeline
    makes before feature extraction. The oracle recomputes every
    frame energy straight from the integer series, so a wrong byte
    order, frame boundary, or ragged-tail rule in the binary plumbing
    breaks the hash. At 100 TB the decode stage pipelines with the
    scan (bytes never shuffle); islands shuffle only (media, frame)
    rows."""
    from hoops_edge_database_etl_spark.operators.multimodal import (
        pack_pcm16_stream,
        pcm16_frame_energy,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") % 32768)
            - 16384
        ).alias("smp"),
    )
    # r13 (guide §4.1/§4.5): per-group applyInPandas (one Python call +
    # one tiny pandas frame + one pandas sort per media id) -> the shared
    # partition-stream pack kernel q145 adopted in r12 (one kernel per
    # task over a JVM sort, seam-carried). Same shuffle key, same per-user
    # order, byte-identical blobs; oracle unchanged.
    packed = pack_pcm16_stream(s)
    frames = pcm16_frame_energy(packed, id_col="media_id", pcm_col="pcm")
    flagged = frames.withColumn(
        "silent",
        F.when(F.col("energy") < F.col("n") * 64000000, 1).otherwise(0),
    )
    w = Window.partitionBy("media_id", "silent").orderBy("frame_idx")
    islands = flagged.withColumn(
        "grp", F.col("frame_idx") - F.row_number().over(w)
    )
    runs = (
        islands.where(F.col("silent") == 1)
        .groupBy("media_id", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("longest"),
        )
    )
    return (
        flagged.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.sum("silent").cast("long").alias("n_silent"),
        )
        .join(runs, "media_id", "left")
        .select(
            "media_id",
            "n_frames",
            "n_silent",
            F.coalesce("n_runs", F.lit(0)).cast("long").alias("n_runs"),
            F.coalesce("longest", F.lit(0)).cast("long").alias("longest_run"),
        )
    )
