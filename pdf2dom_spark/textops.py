"""Training-data pipeline operators over the ``documents`` table.

Beyond the reference's own operators (SURVEY.md §2), these are the
corpus-preparation ops a training-data pipeline runs: language ID, quality
and repetition scoring, PII scrubbing, token counting, document
fingerprinting, decontamination, chunking, packing and sampling.

Every operator is a pure DataFrame builder (JVM-side built-ins only — no
Python UDFs) paired with an equivalent DuckDB oracle SQL string. Hash
functions are portable by construction (md5 hex, available and identical in
Spark and DuckDB). Every operator pushes column pruning to the
parquet/Iceberg scan: only the ``documents`` columns it uses are read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REGISTRY: dict = {}
ORACLES: dict[str, str] = {}


def _reg(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# language ID (stopword-hit heuristic; argmax with deterministic tie-break)
# ---------------------------------------------------------------------------

_LANG_STOPS = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "les", "et"),
    "zh": ("de5", "shi4", "le5"),
}

@_reg("lang_id", f"""
WITH c AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         {', '.join(
             "len(list_filter(string_split(text,' '), w -> w IN ({})))"
             " AS c_{}".format(
                 ','.join(f"'{s}'" for s in stops), lg)
             for lg, stops in _LANG_STOPS.items())}
  FROM documents
)
SELECT doc_id, lang,
       CASE GREATEST(c_en, c_es, c_de, c_fr, c_zh)
            WHEN c_en THEN 'en' WHEN c_es THEN 'es' WHEN c_de THEN 'de'
            WHEN c_fr THEN 'fr' ELSE 'zh' END AS pred
FROM c
""")
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.split("text", " ").alias("ws"))
    cols = {}
    for lg, stops in _LANG_STOPS.items():
        cols[lg] = F.size(F.filter(
            "ws", lambda w: w.isin(*stops))).alias(f"c_{lg}")
    c = d.select("doc_id", "lang", *cols.values())
    best = F.greatest(*[F.col(f"c_{lg}") for lg in _LANG_STOPS])
    pred = (F.when(F.col("c_en") == best, "en")
             .when(F.col("c_es") == best, "es")
             .when(F.col("c_de") == best, "de")
             .when(F.col("c_fr") == best, "fr")
             .otherwise("zh"))
    return c.select("doc_id", "lang", pred.alias("pred"))


# ---------------------------------------------------------------------------
# quality score: length / distinct-ratio / stopword-ratio mix
# ---------------------------------------------------------------------------

@_reg("quality_score", """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split(text,' ') AS ws, CAST(n_chars AS DOUBLE) AS n_chars
  FROM documents
)
SELECT doc_id,
       CAST(FLOOR((0.4 * LEAST(n_chars / 500.0, 1.0)
           + 0.3 * (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws))
           + 0.3 * (CAST(len(list_filter(ws, x -> x IN ('the','a','of','de','la'))) AS DOUBLE) / len(ws))
           ) * 10000 + 0.5) AS BIGINT) AS quality_x10k
FROM w WHERE len(ws) > 0
""")
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split("text", " ").alias("ws"),
        F.col("n_chars").cast("double").alias("n_chars"))
    nw = F.size("ws").cast("double")
    stop_ratio = (F.size(F.filter(
        "ws", lambda x: x.isin("the", "a", "of", "de", "la"))).cast("double") / nw)
    distinct_ratio = F.size(F.array_distinct("ws")).cast("double") / nw
    q = (0.4 * F.least(F.col("n_chars") / 500.0, F.lit(1.0))
         + 0.3 * distinct_ratio + 0.3 * stop_ratio)
    # floor-based fixed-point keeps cross-engine parity exact (both sides
    # compute the identical double, then the identical integer)
    return d.where(F.size("ws") > 0).select(
        "doc_id",
        F.floor(q * 10000 + 0.5).cast("long").alias("quality_x10k"))


# ---------------------------------------------------------------------------
# PII scrubbing: regex redaction of emails / phones / IPs. The synthetic
# corpus is PII-free word soup, so the op would be vacuous on raw text —
# both engines first plant identical deterministic PII tokens derived from
# doc_id (same device as the planted near-dup twins), then the scrub
# semantics are value-checked through counts + a hash of the redacted text.
# Patterns are kept in the Java-regex / RE2 common subset.
# ---------------------------------------------------------------------------

_PII_EMAIL = "[A-Za-z0-9]+@[a-z0-9]+\\.[a-z]+"
_PII_PHONE = "\\+1-555-[0-9]{4}"
_PII_IP = "10\\.[0-9]{1,3}\\.0\\.[0-9]{1,3}"

@_reg("pii_scrub", f"""
WITH aug AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         text || ' mail user' || CAST(doc_id AS VARCHAR)
              || '@m' || CAST(doc_id % 7 AS VARCHAR) || '.com tel +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
              || CAST(doc_id % 97 AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS INT) AS n_ip,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g')) AS scrubbed_hash
FROM aug
""")
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    t = F.concat(
        F.col("text"), F.lit(" mail user"),
        F.col("doc_id").cast("string"), F.lit("@m"),
        (F.col("doc_id") % 7).cast("string"), F.lit(".com tel +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 97).cast("string"))
    d = d.select("doc_id", t.alias("t"))
    scrubbed = F.regexp_replace(F.regexp_replace(F.regexp_replace(
        F.col("t"),
        _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"), _PII_IP, "<IP>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(
            "t", F.lit(_PII_EMAIL), F.lit(0))).alias("n_email"),
        F.size(F.regexp_extract_all(
            "t", F.lit(_PII_PHONE), F.lit(0))).alias("n_phone"),
        F.size(F.regexp_extract_all(
            "t", F.lit(_PII_IP), F.lit(0))).alias("n_ip"),
        F.md5(scrubbed).alias("scrubbed_hash"))


# ---------------------------------------------------------------------------
# Repetition scoring (Gopher-style repetition rules): fraction of the doc
# covered by its most frequent word, distinct-word fraction, and
# singleton-word fraction — one explode + two hash aggregates, fixed-point
# integers for exact cross-engine parity.
# ---------------------------------------------------------------------------

@_reg("repetition_score", """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest(string_split(text, ' ')) AS g
  FROM documents
),
c AS (
  SELECT doc_id, g, COUNT(*) AS cnt FROM w GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(FLOOR(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) * 10000 + 0.5)
            AS BIGINT) AS top_frac_x10k,
       CAST(FLOOR(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) * 10000 + 0.5) AS BIGINT) AS singleton_frac_x10k
FROM c GROUP BY doc_id
""")
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split("text", " ")).alias("g"))
    c = e.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    n_words = F.sum("cnt")
    n_distinct = F.count(F.lit(1))
    singles = F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
    return c.groupBy("doc_id").agg(
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct"),
        F.floor(F.max("cnt").cast("double") / n_words * 10000 + 0.5)
         .cast("long").alias("top_frac_x10k"),
        F.floor(singles.cast("double") / n_distinct * 10000 + 0.5)
         .cast("long").alias("singleton_frac_x10k"))


# ---------------------------------------------------------------------------
# token counting: whitespace + BPE-ish (ceil(len/4) per word)
# ---------------------------------------------------------------------------

@_reg("token_count", """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
       CAST(list_sum(list_transform(string_split(text,' '),
            w -> CAST(CEIL(LENGTH(w) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_tokens
FROM documents
""")
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split("text", " ").alias("ws"))
    bpe = F.aggregate(
        F.transform("ws", lambda w: F.ceil(F.length(w) / 4.0)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return d.select(
        "doc_id",
        F.size("ws").cast("long").alias("ws_tokens"),
        bpe.alias("bpe_tokens"))


# ---------------------------------------------------------------------------
# corpus filter: the composed training-data prep pipeline — keep documents
# that (a) are the canonical copy of their exact-dup group, (b) pass the
# quality threshold, (c) have agreeing language ID. One scan feeds three
# predicates; the dedup keeper is a window min over the text-hash group
# (no join), so the whole filter is scan -> window -> filter at scale.
# ---------------------------------------------------------------------------

@_reg("corpus_filter", """
WITH q AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text,
         string_split(text,' ') AS ws, CAST(n_chars AS DOUBLE) AS n_chars,
         MIN(CAST(doc_id AS BIGINT)) OVER (PARTITION BY md5(text)) AS keeper
  FROM documents WHERE length(text) > 0
),
s AS (
  SELECT doc_id, lang, keeper,
         0.4 * LEAST(n_chars / 500.0, 1.0)
         + 0.3 * (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws))
         + 0.3 * (CAST(len(list_filter(ws, x -> x IN ('the','a','of','de','la'))) AS DOUBLE) / len(ws))
           AS quality,
         len(list_filter(ws, w -> w IN ('the','a','of'))) AS c_en
  FROM q WHERE len(ws) > 0
)
SELECT doc_id, lang,
       CAST(FLOOR(quality * 10000 + 0.5) AS BIGINT) AS quality_x10k
FROM s
WHERE doc_id = keeper AND quality >= 0.5
  AND (lang <> 'en' OR c_en > 0)
""")
def corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    d = _docs(spark, sf_dir).where(F.length("text") > 0).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.split("text", " ").alias("ws"),
        F.col("n_chars").cast("double").alias("n_chars"),
        F.md5("text").alias("h"))
    d = d.withColumn("keeper",
                     F.min("doc_id").over(Window.partitionBy("h")))
    nw = F.size("ws").cast("double")
    stop_ratio = (F.size(F.filter(
        "ws", lambda x: x.isin("the", "a", "of", "de", "la"))).cast("double")
        / nw)
    distinct_ratio = F.size(F.array_distinct("ws")).cast("double") / nw
    quality = (0.4 * F.least(F.col("n_chars") / 500.0, F.lit(1.0))
               + 0.3 * distinct_ratio + 0.3 * stop_ratio)
    c_en = F.size(F.filter("ws", lambda w: w.isin("the", "a", "of")))
    return (d.where(F.size("ws") > 0)
            .withColumn("quality", quality)
            .withColumn("c_en", c_en)
            .where((F.col("doc_id") == F.col("keeper"))
                   & (F.col("quality") >= 0.5)
                   & ((F.col("lang") != "en") | (F.col("c_en") > 0)))
            .select("doc_id", "lang",
                    F.floor(F.col("quality") * 10000 + 0.5).cast("long")
                    .alias("quality_x10k")))


# ---------------------------------------------------------------------------
# document fingerprint (order-insensitive min/max hash sketch)
# ---------------------------------------------------------------------------

@_reg("doc_fingerprint", """
WITH e AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest(string_split(text,' ')) AS w
  FROM documents
)
SELECT doc_id, MIN(md5(w)) AS fp_min, MAX(md5(w)) AS fp_max,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab
FROM e GROUP BY doc_id
""")
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split("text", " ")).alias("w"))
    # digest projected once; min+max aggregates share it
    d = d.select("doc_id", "w", F.md5("w").alias("h"))
    return d.groupBy("doc_id").agg(
        F.min("h").alias("fp_min"),
        F.max("h").alias("fp_max"),
        F.countDistinct("w").alias("vocab"))


# ---------------------------------------------------------------------------
# TF-IDF top terms: the classic corpus-scoring op a training-data pipeline
# uses for term-based quality/topic filters. Raw term counts + smoothed
# ln((N+1)/(df+1)) idf; top-3 terms per doc with a total order
# (score DESC, term ASC) so the result is deterministic cross-engine.
# Scale shape: two hash aggregates (term counts; document frequencies) and
# one broadcast-sized join on the df table — no all-pairs anything.
# ---------------------------------------------------------------------------

@_reg("tfidf_top_terms", """
WITH e AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest(string_split(text,' ')) AS w
  FROM documents WHERE length(text) > 0
),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM e WHERE w <> '' GROUP BY 1, 2),
df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM e WHERE w <> '' GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM e),
scored AS (
  SELECT tf.doc_id, tf.w AS term,
         ROUND(tf.tf * LN((n.n + 1.0) / (df.df + 1.0)), 4) AS score
  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rk
  FROM scored
)
SELECT doc_id, term, score, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 3
""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # Shuffle the COMPACT (doc_id, text) rows by doc_id BEFORE exploding:
    # HashPartitioning(doc_id) satisfies the (doc_id, w) grouping's
    # clustering AND the final per-doc window, so the only other exchange
    # left is the small tf->df aggregate — the exploded word rows
    # (~7x the doc bytes) never cross the wire (guide §2.3/2.4).
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = (_docs(spark, sf_dir)
         .where(F.length("text") > 0)
         .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
         .repartition(p, "doc_id")
         .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
         .where(F.col("w") != ""))
    # persist the tf pairs: the plan references them three times (probe
    # side, df aggregate, N aggregate) and Spark does not reuse the
    # subtree — without the persist the explode+aggregate ran 3x (16
    # Exchanges in the r6-before plan).
    tf = (e.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
          .persist())
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n"))
    scored = (tf.join(F.broadcast(df), "w")
              .crossJoin(F.broadcast(n))
              .select("doc_id", F.col("w").alias("term"),
                      F.round(F.col("tf") * F.log((F.col("n") + 1.0)
                                                  / (F.col("df") + 1.0)), 4)
                      .alias("score")))
    win = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    out = (scored.withColumn("rk", F.row_number().over(win).cast("int"))
           .where(F.col("rk") <= 3)
           .select("doc_id", "term", "score", "rk"))
    # materialize the small top-3 result eagerly so the tf cache can be
    # released now instead of pinning storage until the ContextCleaner
    # notices the plan is unreachable (a leak in a long-lived driver)
    out = out.localCheckpoint(eager=True)
    tf.unpersist(blocking=False)
    return out


# ---------------------------------------------------------------------------
# Stratified sampling: deterministic per-language sampling rates via md5
# string-order buckets (md5 hex is uniform; `md5(doc_id) < '1999...'`
# selects ~10%). Portable across engines (pure string compare — no
# engine-specific hash), reproducible across runs/cluster sizes, and a
# single narrow filter at any scale: the canonical way to cut a training
# mix from a 10^12-doc corpus without a shuffle.
# ---------------------------------------------------------------------------

_STRATA = {"en": "19", "es": "33", "de": "4c", "fr": "66", "zh": "80"}
# hex prefix -> rate: 0x19/0x100 ~ 10%, 0x33 ~ 20%, 0x4c ~ 30%, ...


# ---------------------------------------------------------------------------
# Inverted index build: term -> sorted posting list + document frequency —
# the search-index construction step (and the retrieval side of
# dedup/attribution tooling). One explode + one hash aggregate; posting
# lists are sorted for deterministic cross-engine comparison. At corpus
# scale the posting list of a stopword is the skew risk — production
# shards hot terms by (term, doc_id bucket); here df is capped by the
# synthetic vocab so the plain aggregate is the right shape.
# ---------------------------------------------------------------------------

@_reg("inverted_index", """
WITH e AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS term,
         CAST(doc_id AS BIGINT) AS doc_id
  FROM documents
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM e WHERE term <> '' GROUP BY term
""")
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (_docs(spark, sf_dir)
         .select(F.explode(F.split("text", " ")).alias("term"),
                 F.col("doc_id").cast("long").alias("doc_id"))
         .where(F.col("term") != "")
         .distinct())
    return e.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(F.sort_array(F.collect_list("doc_id")), ",")
        .alias("postings"))


# ---------------------------------------------------------------------------
# Corpus mixing with epoch upsampling: pretraining mixtures repeat
# high-value sources (weight 2.5 = every doc twice + half the docs a third
# time). Integer epochs come from explode(sequence(...)); the fractional
# epoch is a deterministic md5-bucket coin flip per doc — reproducible
# across cluster sizes and re-runs, no RNG state. Pure narrow map +
# generate (no shuffle); per-source weights here are derived from the
# source name so the oracle is closed-form.
# ---------------------------------------------------------------------------

@_reg("corpus_mix_epochs", """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(substr(source, 4) AS INT) AS idx
  FROM documents
),
r AS (
  SELECT doc_id, source, idx % 3 + 1
         + CASE WHEN idx % 2 = 1
                 AND md5('mix|' || CAST(doc_id AS VARCHAR)) < '8'
                THEN 1 ELSE 0 END AS reps
  FROM d
)
SELECT doc_id, source, CAST(unnest(generate_series(1, reps)) AS INT) AS epoch
FROM r
""")
def corpus_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source",
        F.substring("source", 4, 10).cast("int").alias("idx"))
    extra = F.when(
        (F.col("idx") % 2 == 1)
        & (F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")))
           < F.lit("8")), 1).otherwise(0)
    r = d.select("doc_id", "source",
                 (F.col("idx") % 3 + 1 + extra).alias("reps"))
    return (r.select("doc_id", "source",
                     F.explode(F.sequence(F.lit(1), F.col("reps")))
                     .alias("e"))
            .select("doc_id", "source",
                    F.col("e").cast("int").alias("epoch")))


def _strat_threshold(prefix: str) -> str:
    return prefix + "0" * 30


@_reg("stratified_sample", f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM documents
WHERE md5('smp|' || CAST(doc_id AS VARCHAR)) <
      CASE lang {' '.join(f"WHEN '{k}' THEN '{_strat_threshold(v)}'" for k, v in _STRATA.items())}
           ELSE '00' END
""")
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    thr = F.lit(None).cast("string")
    expr = None
    for k, v in _STRATA.items():
        cond = (F.col("lang") == k, F.lit(_strat_threshold(v)))
        expr = F.when(*cond) if expr is None else expr.when(*cond)
    thr = expr.otherwise(F.lit("00"))
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang")
    h = F.md5(F.concat(F.lit("smp|"), F.col("doc_id").cast("string")))
    return d.where(h < thr)


# ---------------------------------------------------------------------------
# Context-window packing: assign documents to fixed-token-budget bins per
# language (pretraining batch packing). Deterministic first-fit-by-order:
# bin = floor(exclusive-running-sum(tokens) / budget) over doc_id order.
# One window per lang partition — at 10^12 docs this is run per date/shard
# partition in production; the shape (single partitioned running sum, no
# join) is the scale story.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 4096


@_reg("pack_bins", f"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS tokens
  FROM documents
)
SELECT doc_id, lang, CAST(tokens AS INT) AS tokens,
       CAST(FLOOR(COALESCE(SUM(tokens) OVER (PARTITION BY lang
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) / {_PACK_BUDGET}) AS INT) AS bin_id
FROM t
""")
def pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.size(F.filter(F.split("text", " "), lambda w: w != ""))
        .alias("tokens"))
    win = (Window.partitionBy("lang").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, -1))
    run = F.coalesce(F.sum("tokens").over(win), F.lit(0))
    return t.select("doc_id", "lang", F.col("tokens").cast("int"),
                    F.floor(run / _PACK_BUDGET).cast("int").alias("bin_id"))


# ---------------------------------------------------------------------------
# benchmark decontamination: flag corpus documents sharing any 8-word
# shingle with the held-out benchmark set (the n-gram-overlap decontam pass
# every pretraining pipeline runs before training). Scale shape: the
# benchmark is small and fixed by construction -> its distinct shingle
# hashes broadcast; the corpus side is one explode + a broadcast hash join
# + a map-side-combinable count. The synthetic "benchmark" is doc_id % 50
# == 0 (the planted exact-dup groups guarantee non-vacuous overlap).
# ---------------------------------------------------------------------------

@_reg("decontaminate", """
WITH ws AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS w
  FROM documents WHERE length(text) > 0
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, GREATEST(len(w) - 7, 0)),
             i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                      w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
                      w[i+6] || ' ' || w[i+7]))) AS g
  FROM ws
),
bench AS (SELECT DISTINCT unnest(g) AS h FROM sh WHERE doc_id % 50 = 0),
corpus AS (SELECT doc_id, unnest(g) AS h FROM sh WHERE doc_id % 50 != 0)
SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM corpus c JOIN bench b USING (h)
GROUP BY c.doc_id
""")
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (_docs(spark, sf_dir).where(F.length("text") > 0)
         .select(F.col("doc_id").cast("long").alias("doc_id"),
                 F.split("text", " ").alias("w")))

    def grams(w):
        tr = F.transform(
            F.sequence(F.lit(1), F.size(w) - 7),
            lambda i: F.md5(F.concat_ws(
                " ", *[F.element_at(w, i + k) for k in range(8)])))
        return F.when(F.size(w) >= 8, F.array_distinct(tr)).otherwise(
            F.array().cast("array<string>"))

    sh = d.select("doc_id", grams(F.col("w")).alias("g"))
    bench = (sh.where(F.col("doc_id") % 50 == 0)
             .select(F.explode("g").alias("h")).distinct())
    corpus = (sh.where(F.col("doc_id") % 50 != 0)
              .select("doc_id", F.explode("g").alias("h")))
    return (corpus.join(F.broadcast(bench), "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits")))


# ---------------------------------------------------------------------------
# sliding-window document chunking: fixed 64-token windows, stride 48
# (16-token overlap) — the long-document -> context-window preprocessing
# step (distinct from pack_bins, which packs WHOLE docs into budgets).
# Pure narrow map + generate: no shuffle at all; each chunk is emitted as
# a hash of its word span so the output stays value-checkable and small.
# ---------------------------------------------------------------------------

_CHUNK_W, _CHUNK_STRIDE = 64, 48

@_reg("doc_chunk_windows", f"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS n
  FROM documents WHERE length(text) > 0
),
k AS (
  SELECT doc_id, ws, n,
         CASE WHEN n <= {_CHUNK_W} THEN 1
              ELSE CAST(CEIL((n - {_CHUNK_W}) / {_CHUNK_STRIDE}.0) AS BIGINT)
                   + 1 END AS nk
  FROM t
)
SELECT doc_id, CAST(c AS INT) AS chunk_id,
       CAST(LEAST({_CHUNK_W}, n - c * {_CHUNK_STRIDE}) AS INT) AS n_tokens,
       md5(list_aggregate(
           ws[c * {_CHUNK_STRIDE} + 1 : c * {_CHUNK_STRIDE} + {_CHUNK_W}],
           'string_agg', ' ')) AS chunk_hash
FROM k, UNNEST(generate_series(0, nk - 1)) AS u(c)
""")
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (_docs(spark, sf_dir).where(F.length("text") > 0)
         .select(F.col("doc_id").cast("long").alias("doc_id"),
                 F.split("text", " ").alias("ws")))
    n = F.size("ws")
    nk = F.when(n <= _CHUNK_W, F.lit(1).cast("long")).otherwise(
        F.ceil((n - _CHUNK_W) / F.lit(float(_CHUNK_STRIDE))) + 1)
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), nk - 1),
        lambda c: F.struct(
            c.cast("int").alias("chunk_id"),
            F.least(F.lit(_CHUNK_W),
                    n - c.cast("int") * _CHUNK_STRIDE).cast("int")
            .alias("n_tokens"),
            F.md5(F.concat_ws(" ", F.slice(
                F.col("ws"), c.cast("int") * _CHUNK_STRIDE + 1, _CHUNK_W)))
            .alias("chunk_hash")))
    return (t.select("doc_id", F.explode(chunks).alias("c"))
            .select("doc_id", "c.chunk_id", "c.n_tokens", "c.chunk_hash"))


# ---------------------------------------------------------------------------
# corpus bigram familiarity: a counting LM quality signal -- score each
# document by how common its word bigrams are in the WHOLE corpus (docs
# made of rare sequences score low; the integer-sum analog of an n-gram
# LM log-prob filter, kept in exact integers so the cross-engine check is
# ulp-proof). Two passes over one positional-bigram explode: (1) global
# bigram counts = map-side-combinable hash agg; (2) join occurrences back
# to their count (per-key build side is the 1-row aggregate -- join output
# == occurrence count, no blowup) and re-aggregate per doc. At 100 TB the
# bigram vocabulary is unbounded so the count side is NOT broadcast; both
# shuffles key on the bigram/doc hash, AQE splits hot bigrams.
# ---------------------------------------------------------------------------

@_reg("bigram_familiarity", """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE length(text) > 0
),
b AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg
  FROM t, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
  WHERE len(ws) >= 2
),
c AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY bg)
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(c.cnt) AS BIGINT) AS fam_sum,
       CAST(FLOOR(1000.0 * SUM(c.cnt) / COUNT(*)) AS BIGINT) AS fam_avg_x1000
FROM b JOIN c USING (bg)
GROUP BY b.doc_id
""")
def bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (_docs(spark, sf_dir).where(F.length("text") > 0)
         .select(F.col("doc_id").cast("long").alias("doc_id"),
                 F.split("text", " ").alias("ws"))
         .where(F.size("ws") >= 2))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 1),
        lambda i: F.concat(F.element_at("ws", i), F.lit(" "),
                           F.element_at("ws", i + 1)))
    b = t.select("doc_id", F.explode(grams).alias("bg"))
    c = b.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    return (b.join(c, "bg")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("cnt").alias("fam_sum"),
                 F.floor(1000.0 * F.sum("cnt") / F.count(F.lit(1)))
                 .alias("fam_avg_x1000")))


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters -- the second sketch-operator class, built
# CROSS-ENGINE EXACT like kmv_distinct_users: 4 rows x 256 buckets where
# the bucket id is simply the first TWO HEX CHARS of md5(row || '|' ||
# word) (256 buckets by construction, no int conversion anywhere), counts
# are BIGINT sums, and the estimate is the min over the 4 row lookups --
# deterministic integer math both engines reproduce bit-for-bit. 100 TB
# shape: one word hash-agg (map-side combinable) feeds BOTH the sketch
# (built from the vocabulary-sized count table, 4 rows/word, folding to
# <=1024 sketch cells) and the exact top-20; the probe joins the 80-cell
# lookup against the <=1024-row sketch -- broadcast by construction. The
# sketch build is a combinable aggregate, so at scale it streams: no state
# beyond 1024 counters per partition.
# ---------------------------------------------------------------------------

@_reg("heavy_hitters_cms", """
WITH w AS (
  SELECT u.word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents, UNNEST(string_split(text, ' ')) AS u(word)
  WHERE length(text) > 0 GROUP BY u.word
),
sk AS (
  SELECT r, substr(md5(CAST(r AS VARCHAR) || '|' || word), 1, 2) AS b,
         CAST(SUM(cnt) AS BIGINT) AS c
  FROM w, UNNEST(generate_series(0, 3)) AS g(r)
  GROUP BY r, b
),
top AS (SELECT word, cnt FROM w ORDER BY cnt DESC, word LIMIT 20)
SELECT top.word, top.cnt AS exact_count,
       CAST(MIN(sk.c) AS BIGINT) AS cms_estimate
FROM top, UNNEST(generate_series(0, 3)) AS g(r)
JOIN sk ON sk.r = g.r
       AND sk.b = substr(md5(CAST(g.r AS VARCHAR) || '|' || top.word), 1, 2)
GROUP BY top.word, top.cnt
""")
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).where(F.length("text") > 0)
    w = (docs.select(F.explode(F.split("text", " ")).alias("word"))
         .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    rows = F.array(*[F.lit(i) for i in range(4)])
    bucket = F.substring(
        F.md5(F.concat(F.col("r").cast("string"), F.lit("|"),
                       F.col("word"))), 1, 2)
    sk = (w.select("word", "cnt", F.explode(rows).alias("r"))
          .select(F.col("r"), bucket.alias("b"), "cnt")
          .groupBy("r", "b").agg(F.sum("cnt").alias("c")))
    top = w.orderBy(F.desc("cnt"), "word").limit(20)
    probe = (top.select("word", "cnt", F.explode(rows).alias("r"))
             .select("word", "cnt", "r", bucket.alias("b")))
    return (probe.join(F.broadcast(sk), ["r", "b"])
            .groupBy("word", "cnt")
            .agg(F.min("c").alias("cms_estimate"))
            .select("word", F.col("cnt").alias("exact_count"),
                    "cms_estimate"))


# ---------------------------------------------------------------------------
# Deterministic exact-k sampling (VERDICT r4 "Next" #6).
#
# sample_reservoir: a distributed reservoir sample IS a global top-k by a
# uniform deterministic key — rank every doc by md5('rsv|'||doc_id) and
# keep the k smallest. Spark executes ORDER BY key LIMIT k as
# TakeOrderedAndProject: each partition keeps its local top-k (the
# per-partition "reservoir"), the driver merges k-sized heaps — O(k)
# memory at any corpus size, no full sort, no shuffle of the data.
#
# sample_weighted: weighted sampling without replacement via TICKET
# REPLICATION, kept integer/string-exact so the draw value-hash-matches
# DuckDB (the classic Efraimidis-Spirakis u^(1/w) key needs pow/ln —
# libm floats that cannot be trusted to match bit-for-bit cross-engine).
# Each doc gets w tickets (w bounded <= 8), ticket t's key =
# md5('wsmp|'||doc_id||'|'||t); a doc's sort key is its MINIMUM ticket.
# More tickets -> stochastically smaller minimum -> selection probability
# increases with w, deterministically. Shape: bounded narrow explode
# (<= 8x), map-side-combinable MIN agg, TakeOrderedAndProject top-k.
# ---------------------------------------------------------------------------

_RSV_K = 200
_WSMP_K = 150


@_reg("sample_reservoir", f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       md5('rsv|' || CAST(doc_id AS VARCHAR)) AS sample_key
FROM documents
ORDER BY sample_key
LIMIT {_RSV_K}
""")
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang")
    key = F.md5(F.concat(F.lit("rsv|"), F.col("doc_id").cast("string")))
    return (d.withColumn("sample_key", key)
            .orderBy("sample_key").limit(_RSV_K))


@_reg("sample_weighted", f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         1 + CAST(n_chars AS BIGINT) % 8 AS weight
  FROM documents
),
t AS (
  SELECT doc_id, lang, weight,
         MIN(md5('wsmp|' || CAST(doc_id AS VARCHAR) || '|'
                 || CAST(tk AS VARCHAR))) AS min_ticket
  FROM w, generate_series(1, 8) AS g(tk)
  WHERE tk <= weight
  GROUP BY doc_id, lang, weight
)
SELECT doc_id, lang, CAST(weight AS INT) AS weight, min_ticket
FROM t
ORDER BY min_ticket
LIMIT {_WSMP_K}
""")
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        (1 + F.col("n_chars").cast("long") % 8).alias("weight"))
    t = d.select(
        "doc_id", "lang", "weight",
        F.explode(F.sequence(F.lit(1), F.col("weight"))).alias("tk"))
    key = F.md5(F.concat(F.lit("wsmp|"), F.col("doc_id").cast("string"),
                         F.lit("|"), F.col("tk").cast("string")))
    return (t.groupBy("doc_id", "lang", "weight")
            .agg(F.min(key).alias("min_ticket"))
            .select("doc_id", "lang",
                    F.col("weight").cast("int").alias("weight"),
                    "min_ticket")
            .orderBy("min_ticket").limit(_WSMP_K))
