"""Training-data pipeline operators over the ``documents`` table.

Beyond the reference's own operators (SURVEY.md §2), these are the
large-scale corpus-preparation ops a 100 TB training-data pipeline needs:
exact + near deduplication (n-gram Jaccard, MinHash, SimHash), language ID,
quality scoring, token counting, document fingerprinting.

Every operator is a pure DataFrame builder (JVM-side built-ins only — no
Python UDFs) paired with an equivalent DuckDB oracle SQL string. Hash
functions are portable by construction (md5 hex, available and identical in
Spark and DuckDB); MinHash uses the lexicographic min of md5 hex digests,
which is a valid uniform min-hash.

Scale notes:
  - exact dedup: one hash-shuffle on md5(text) — the canonical map-side
    combinable groupBy; at 10^12 docs this is the cheapest possible shape.
  - minhash/jaccard: ``dedup_minhash_lsh`` is the scale path — candidates
    come from a self-join keyed on (band_id, band-signature), whose key
    cardinality grows with the corpus; the per-lang variants
    (``dedup_ngram_jaccard``, ``dedup_minhash``) are the exact small-scale
    baselines and are NOT 100 TB-safe (all-pairs within a 5-value key).
  - everything pushes column pruning to the parquet/Iceberg scan: only
    (doc_id, text, lang) are read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REGISTRY: dict = {}
ORACLES: dict[str, str] = {}

# Queries in this set are exact small-scale BASELINES kept for verifying the
# scale-safe variants (LSH banding) against ground truth; their all-pairs
# join is O(N^2/|langs|) and must never run on a production corpus. They
# self-guard on input row count (below); registries/UIs can also use this
# set to separate the verification surface from the 100 TB surface.
VERIFICATION_ONLY = {"dedup_ngram_jaccard", "dedup_minhash"}

# Hard input-size ceiling for the all-pairs baselines. 100k docs over ~5
# langs is ~10^9 candidate pairs — already hours of work; anything beyond is
# an operator-misuse error, not a slow query.
ALLPAIRS_MAX_DOCS = 100_000


def _guard_allpairs(d: DataFrame, name: str) -> None:
    n = d.count()
    if n > ALLPAIRS_MAX_DOCS:
        raise ValueError(
            f"{name} is a verification-only all-pairs baseline "
            f"(O(N^2/|langs|)); input has {n} docs > {ALLPAIRS_MAX_DOCS} "
            f"cap. Use dedup_minhash_lsh for production-scale near-dup.")


def _reg(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _shingles(ws):
    """3-word shingles of a split-text column, guarded for <=2-word docs:
    Spark's sequence(1, 0) yields the DESCENDING [1, 0] and element_at(ws, 0)
    throws INVALID_INDEX_OF_ZERO, while DuckDB's generate_series(1, 0) is
    empty — so short docs must short-circuit to an empty array BEFORE the
    sequence is built (CaseWhen is non-strict, the guarded branch never
    evaluates)."""
    tr = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 2),
        lambda i: F.concat_ws(" ", F.element_at(ws, i),
                              F.element_at(ws, i + 1),
                              F.element_at(ws, i + 2)))
    return F.when(F.size(ws) >= 3, F.array_distinct(tr)).otherwise(
        F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# exact dedup: hash-groupBy (map-side combinable; one shuffle on the hash)
# ---------------------------------------------------------------------------

@_reg("dedup_exact", """
SELECT md5(text) AS text_hash,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(MIN(doc_id) AS BIGINT) AS keeper
FROM documents
GROUP BY 1
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("group_size"),
             F.min("doc_id").cast("long").alias("keeper"))
    )


# ---------------------------------------------------------------------------
# URL canonicalization + dedup: the standard web-crawl front door (strip
# fragment -> strip utm_* tracking params -> lowercase -> strip trailing
# slash, then keep one doc per canonical URL). The corpus carries no real
# URLs, so the query synthesizes them deterministically from (doc_id,
# source) with case/slash/param/fragment variations — the same
# synthesize-inside-the-query pattern as pii_scrub. 100 TB shape: a narrow
# deterministic map then ONE map-side-combinable groupBy on the canonical
# string (identical to dedup_exact); regexes stay in the Java-regex ∩ RE2
# subset so Spark and DuckDB agree byte-for-byte.
# ---------------------------------------------------------------------------

_URL_SYNTH_SQL = """
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         'https://' ||
         CASE WHEN doc_id % 3 = 0
              THEN upper('www.' || source || '.example.com')
              ELSE 'www.' || source || '.example.com' END ||
         '/docs/' || CAST(doc_id % 7 AS VARCHAR) ||
         CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
         CASE WHEN doc_id % 5 = 0
              THEN '?utm_source=feed&utm_id=' || CAST(doc_id % 9 AS VARCHAR)
              ELSE '' END ||
         CASE WHEN doc_id % 2 = 0
              THEN '#sec' || CAST(doc_id % 6 AS VARCHAR)
              ELSE '' END AS url
  FROM documents
"""


@_reg("url_canonicalize", f"""
WITH u AS ({_URL_SYNTH_SQL}),
c AS (
  SELECT doc_id, url,
         regexp_replace(lower(regexp_replace(regexp_replace(
             url, '#.*', ''), '[?&]utm_[^&#]*', '', 'g')),
             '/+$', '') AS canonical_url
  FROM u
)
SELECT canonical_url,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS dup_count,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants
FROM c GROUP BY canonical_url
""")
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source")
    host_raw = F.concat(F.lit("www."), F.col("source"),
                        F.lit(".example.com"))
    host = F.when(F.col("doc_id") % 3 == 0,
                  F.upper(host_raw)).otherwise(host_raw)
    path = F.concat(F.lit("/docs/"), (F.col("doc_id") % 7).cast("string"))
    slash = F.when(F.col("doc_id") % 4 == 0,
                   F.lit("/")).otherwise(F.lit(""))
    query = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("?utm_source=feed&utm_id="),
                 (F.col("doc_id") % 9).cast("string"))).otherwise(F.lit(""))
    frag = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("#sec"),
                 (F.col("doc_id") % 6).cast("string"))).otherwise(F.lit(""))
    url = F.concat(F.lit("https://"), host, path, slash, query, frag)
    # canonical order matters and matches the oracle exactly:
    # fragment -> utm params -> lowercase -> trailing slash
    canon = F.regexp_replace(
        F.lower(F.regexp_replace(F.regexp_replace(url, "#.*", ""),
                                 "[?&]utm_[^&#]*", "")),
        "/+$", "")
    u = d.select("doc_id", url.alias("url"), canon.alias("canonical_url"))
    return (u.groupBy("canonical_url")
             .agg(F.min("doc_id").alias("keeper_doc_id"),
                  F.count(F.lit(1)).alias("dup_count"),
                  F.countDistinct("url").alias("n_variants")))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup: shingle -> per-lang pairwise (bounded candidates)
# ---------------------------------------------------------------------------

_SHINGLES_SQL = """
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         list_distinct(list_transform(
             generate_series(1, GREATEST(len(string_split(text,' ')) - 2, 0)),
             i -> string_split(text,' ')[i] || ' ' ||
                  string_split(text,' ')[i+1] || ' ' ||
                  string_split(text,' ')[i+2])) AS sh
  FROM documents
"""

@_reg("dedup_ngram_jaccard", f"""
WITH s AS ({_SHINGLES_SQL})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 3) AS jaccard
FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(a.sh) > 0 AND len(b.sh) > 0
  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.split("text", " ").alias("ws"))
    _guard_allpairs(d, "dedup_ngram_jaccard")
    sh = d.select("doc_id", "lang", _shingles(F.col("ws")).alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .where((F.size(F.col("a.sh")) > 0) & (F.size(F.col("b.sh")) > 0)
               & (jac >= 0.5))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.round(jac, 3).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash (8 permutations via salted md5; lexicographic min of hex digests)
# ---------------------------------------------------------------------------

_MH_KS = list(range(8))

@_reg("dedup_minhash", f"""
WITH s AS ({_SHINGLES_SQL}),
e AS (SELECT doc_id, lang, unnest(sh) AS g FROM s),
sig AS (
  SELECT doc_id, ANY_VALUE(lang) AS lang,
         {', '.join(f"MIN(md5('{k}|' || g)) AS m{k}" for k in _MH_KS)}
  FROM e GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({' + '.join(f'(a.m{k} = b.m{k})::INT' for k in _MH_KS)} AS INT) AS n_match
FROM sig a JOIN sig b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE {' + '.join(f'(a.m{k} = b.m{k})::INT' for k in _MH_KS)} >= 4
""")
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.split("text", " ").alias("ws"))
    _guard_allpairs(d, "dedup_minhash")
    sh = d.select("doc_id", "lang", _shingles(F.col("ws")).alias("sh"))
    # explode_outer + post-filter: see dedup_minhash_lsh (the inferred
    # size(sh) > 0 generate filter inlines the shingle expression with
    # split-per-element — O(words^2) per doc)
    e = (sh.select("doc_id", "lang", F.explode_outer("sh").alias("g"))
         .where(F.col("g").isNotNull()))
    sig = e.groupBy("doc_id").agg(
        F.first("lang").alias("lang"),
        *[F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("g")))).alias(f"m{k}")
          for k in _MH_KS])
    a, b = sig.alias("a"), sig.alias("b")
    n_match = sum(
        (F.col(f"a.m{k}") == F.col(f"b.m{k}")).cast("int") for k in _MH_KS)
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .where(n_match >= 4)
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                n_match.cast("int").alias("n_match"))
    )


# ---------------------------------------------------------------------------
# MinHash LSH (banded): the scale path. 8 permutations -> 4 bands of 2 rows;
# candidates are pairs sharing a FULL band (join keyed on (band_id, band
# hash) — cardinality grows with the corpus, unlike `lang`), then the exact
# signature match count verifies within the candidate set. This is the
# standard banding construction (s-curve: P[cand] = 1-(1-s^2)^4 for
# signature similarity s); at 10^12 docs the band join touches only
# hash-colliding documents instead of N^2/|langs| pairs.
# ---------------------------------------------------------------------------

_MH_BANDS = 4  # rows per band = len(_MH_KS) // _MH_BANDS = 2

# The full near-dup pair query as one reusable SQL text: dedup_minhash_lsh's
# oracle, and the edge source inside dedup_cluster's recursive-CTE oracle.
_LSH_PAIRS_SQL = f"""
WITH s AS ({{shingles}}),
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
sig AS (
  SELECT doc_id,
         {', '.join(
             f"MIN(substr(md5('{k // 4}|' || g), {(k % 4) * 8 + 1}, 8)) AS m{k}"
             for k in range(8))}
  FROM e GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band_id,
         CASE band_id {' '.join(f'WHEN {b} THEN m{2 * b} || m{2 * b + 1}' for b in range(4))} END AS bh,
         {', '.join(f'm{k}' for k in range(8))}
  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST({' + '.join(f'(sa.m{k} = sb.m{k})::INT' for k in range(8))} AS INT) AS n_match
FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
WHERE {' + '.join(f'(sa.m{k} = sb.m{k})::INT' for k in range(8))} >= 4
""".replace("{shingles}", _SHINGLES_SQL)


@_reg("dedup_minhash_lsh", _LSH_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, sig = _minhash_lsh_build(spark, sf_dir)
    # Materialize the (tiny — near-dup pairs only) result eagerly so the
    # signature cache can be released NOW instead of pinning storage until
    # the ContextCleaner notices the plan is unreachable. In a long-lived
    # driver the unreleased blocks were the leak (VERDICT r2 #9).
    # NOTE: no coalesce(1) here — coalesce has no shuffle, so it would pull
    # the distinct()'s whole reduce side into ONE task (measured 2.2x slower
    # at sf0.1); AQE already right-sizes the final stage.
    out = out.localCheckpoint(eager=True)
    sig.unpersist(blocking=False)
    return out


def _mh_signatures(d: DataFrame, p: int) -> DataFrame:
    """(doc_id, text) -> the 8-permutation MinHash signature frame.

    In production this frame IS the signature table written at ingest and
    reused across dedup runs; incremental dedup joins new docs against it
    instead of rescanning the corpus."""
    d = d.select("doc_id", F.split("text", " ").alias("ws"))
    # parallelize the heavy shingle+digest map regardless of input file
    # splits (the sandbox table is ONE parquet file = one task without
    # this); hash-partitioning on doc_id is reused by the signature
    # groupBy, so this adds no extra exchange
    d = d.repartition(p, "doc_id")
    sh = d.select("doc_id", _shingles(F.col("ws")).alias("sh"))
    # explode_outer + post-filter instead of explode: InferFiltersFromGenerate
    # would otherwise push a size(sh) > 0 pre-filter below the exchange with
    # the whole shingle expression INLINED (split recomputed per element_at,
    # O(words^2) on the unparallelized scan side — measured 8.5s of a 13s
    # query); the post-generate null filter is free
    e = (sh.select("doc_id", F.explode_outer("sh").alias("g"))
         .where(F.col("g").isNotNull()))
    # 8 permutations from TWO salted digests (4 disjoint 8-hex-char = 32-bit
    # windows each): the op is md5-bound at scale, and a digest window is as
    # valid a uniform hash as a whole digest — 4x less hashing than one
    # salted md5 per permutation. Project the two digests ONCE before the
    # groupBy: an md5 inside each aggregate expression would re-hash every
    # shingle 4x per digest (the same defect class as the r2 simhash16
    # regression).
    e = e.select(
        "doc_id",
        F.md5(F.concat(F.lit("0|"), F.col("g"))).alias("h0"),
        F.md5(F.concat(F.lit("1|"), F.col("g"))).alias("h1"))
    return e.groupBy("doc_id").agg(
        *[F.min(F.substring(F.col(f"h{k // 4}"),
                            (k % 4) * 8 + 1, 8)).alias(f"m{k}")
          for k in _MH_KS])


def _mh_bands(sig: DataFrame) -> DataFrame:
    """Signature frame -> band rows. The full signature rides along (4x row
    duplication of a 256-byte signature) so the candidate join verifies
    n_match in the SAME pass — the alternative (distinct pairs, then
    re-join signatures) recomputes the signature pipeline two extra times,
    which dominated the sf0.1 bench 4:1."""
    return sig.select(
        "doc_id", *[f"m{k}" for k in _MH_KS],
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"),
                     F.concat(F.col(f"m{2 * b}"),
                              F.col(f"m{2 * b + 1}")).alias("bh"))
            for b in range(_MH_BANDS)])).alias("bd")
    ).select("doc_id", *[f"m{k}" for k in _MH_KS],
             F.col("bd.band_id").alias("band_id"), F.col("bd.bh").alias("bh"))


def _mh_n_match():
    return sum(
        (F.col(f"a.m{k}") == F.col(f"b.m{k}")).cast("int") for k in _MH_KS)


def _minhash_lsh_build(spark: SparkSession, sf_dir: str):
    """Lazy plan builder (plan-gated in tests/test_plans.py); returns
    (result, persisted-signature-frame) so the caller controls cache
    release."""
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    # materialize the signatures for the self-join: the shingle-explode +
    # 8x md5 aggregate dominates the query ~8:1 and Spark does not reuse
    # the exchange across the two join sides. In production the signature
    # table is written out once and reused across dedup runs; the in-query
    # persist is the sandbox equivalent (blocks are reclaimed by the
    # ContextCleaner when the plan becomes unreachable).
    sig = _mh_signatures(d, p).persist()
    bands = _mh_bands(sig)
    a, b = bands.alias("a"), bands.alias("b")
    n_match = _mh_n_match()
    out = (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                  & (F.col("a.bh") == F.col("b.bh"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
           .where(n_match >= 4)
           .select(F.col("a.doc_id").alias("doc_a"),
                   F.col("b.doc_id").alias("doc_b"),
                   n_match.cast("int").alias("n_match"))
           .distinct())
    return out, sig


def dedup_minhash_lsh_incremental(spark: SparkSession, new_docs: DataFrame,
                                  existing_sigs: DataFrame) -> DataFrame:
    """Incremental near-dup detection for newly ingested documents: sign the
    NEW docs only and band-join them against the existing signature table
    plus themselves — every pair involving a new doc (new-new and new-old)
    at O(|new| + colliding buckets), never a corpus re-scan. This is the
    per-batch dedup step of an incremental ingest: the signature
    table is append-only (new signatures are written back after the check).

    ``new_docs``: (doc_id long, text). ``existing_sigs``: the persisted
    signature frame (from ``_mh_signatures`` at original ingest).
    Returns (doc_a, doc_b, n_match) with doc_a < doc_b, same contract as
    ``dedup_minhash_lsh`` — the full query's pairs restricted to those
    touching a new doc (equivalence tested in tests/test_cc.py)."""
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    new_sig = _mh_signatures(new_docs, p).localCheckpoint(eager=True)
    all_bands = _mh_bands(existing_sigs.unionByName(new_sig))
    new_bands = _mh_bands(new_sig)
    a, b = new_bands.alias("a"), all_bands.alias("b")
    n_match = _mh_n_match()
    pair_lo = F.least(F.col("a.doc_id"), F.col("b.doc_id"))
    pair_hi = F.greatest(F.col("a.doc_id"), F.col("b.doc_id"))
    return (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col("a.doc_id") != F.col("b.doc_id")))
            .where(n_match >= 4)
            .select(pair_lo.alias("doc_a"), pair_hi.alias("doc_b"),
                    n_match.cast("int").alias("n_match"))
            .distinct())


@_reg("dedup_lsh_incremental", f"""
SELECT doc_a, doc_b, n_match FROM ({_LSH_PAIRS_SQL}) lsh
WHERE doc_a % 10 = 0 OR doc_b % 10 = 0
""")
def dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated harness for the incremental path: treat doc_id % 10 == 0
    as the newly ingested batch, everything else as the existing corpus
    with a precomputed signature table. The oracle is the FULL pair query
    restricted to pairs touching a new doc — so the incremental band-join
    is value-hash-checked against the ground-truth batch result."""
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    old_sig = _mh_signatures(
        d.where(F.col("doc_id") % 10 != 0), p).localCheckpoint(eager=True)
    return dedup_minhash_lsh_incremental(
        spark, d.where(F.col("doc_id") % 10 == 0), old_sig)


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the LSH pair graph.
# Pairwise output under-deduplicates chains (A~B, B~C but A!~C keeps two of
# the three docs if handled pairwise); production pipelines cluster the
# edge set transitively and keep one doc per component.
# ---------------------------------------------------------------------------

CC_MAX_ROUNDS = 20


def connected_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected edge list (u, v) ->
    (node, cluster_id = min node id reachable).

    Iterative driver-coordinated loop (the legitimate exception to the
    no-driver-loop rule: CC has no fixed-depth SQL form). Per round: one
    shuffle to aggregate neighbor minima, converging in O(graph diameter)
    rounds — near-dup graphs are unions of small cliques/chains, so the
    diameter is tiny regardless of corpus size. Each round's labels are
    ``localCheckpoint``-ed: without truncation the plan doubles per
    iteration and the job dies of lineage, not data. At 10^12-doc scale the
    same loop holds because every round's work is O(|edges|) with the same
    partitioning; for adversarial long-chain graphs swap in the
    large-star/small-star contraction (Kiveris et al., MapReduce CC) which
    converges in O(log n) rounds — same per-round shape.
    """
    sym = edges.select(F.col("u").alias("n"), F.col("v").alias("m")).unionAll(
        edges.select(F.col("v").alias("n"), F.col("u").alias("m")))
    sym = sym.localCheckpoint(eager=True)  # reused every round
    # round 0 folded into init: label(n) = min(n, neighbors). Lazy
    # checkpoint: round 1's convergence count is the job that materializes
    # it (one fewer job than an eager checkpoint, same truncation).
    labels = sym.groupBy("n").agg(
        F.least(F.min("m"), F.col("n")).alias("lbl"))
    labels = labels.localCheckpoint(eager=False)
    for _ in range(CC_MAX_ROUNDS):
        nb = (sym.join(labels.withColumnRenamed("n", "m"), "m")
              .groupBy("n").agg(F.min("lbl").alias("nb_lbl")))
        # carry the pre-round label as ``old`` through the round so the
        # convergence check below is a narrow scan of the checkpointed
        # blocks — the former re-join against the previous labels frame
        # cost one extra exchange per round (r6)
        new = (labels.join(nb, "n", "left")
               .select("n", F.col("lbl").alias("old"),
                       F.least("lbl", "nb_lbl").alias("lbl")))
        # lazy checkpoint + count in ONE job: the count() action is what
        # materializes the checkpoint, so each round runs one Spark job
        # where the eager-checkpoint-then-count form ran two (r6b)
        new = new.localCheckpoint(eager=False)
        changed = new.where(F.col("lbl") != F.col("old")).count()
        if changed == 0:
            # converged: the neighbor-min pass is a fixed point, i.e. for
            # every edge (u, v) lbl(u) == lbl(v) — labels are constant per
            # component, so the pointer-halving self-join below would be a
            # provable no-op; skip it on this final verification round
            return new.select(F.col("n").alias("node"),
                              F.col("lbl").alias("cluster_id"))
        # pointer halving: also adopt label(label(u)) — every label IS a
        # node id in the same component, so one self-join per round doubles
        # the pointer-jump distance and convergence is O(log diameter)
        # instead of O(diameter) (plain propagation dies on long chains).
        # Labels only ever decrease toward the unique component minimum,
        # so applying it only on rounds that moved cannot change the fixed
        # point the loop terminates on.
        par = new.select(F.col("n").alias("p"), F.col("lbl").alias("plbl"))
        labels = (new.join(par, new["lbl"] == par["p"], "left")
                  .select("n", F.least("lbl", "plbl").alias("lbl")))
        labels = labels.localCheckpoint(eager=False)
    raise ValueError(
        f"connected_components did not converge in {CC_MAX_ROUNDS} rounds "
        "(graph diameter too large for min-label propagation; use a "
        "star-contraction variant)")


@_reg("dedup_cluster", f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_LSH_PAIRS_SQL}) lsh
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
  UNION
  SELECT w.u, e.v FROM walk w JOIN edges e ON e.u = w.r
),
cc AS (
  SELECT u AS doc_id, MIN(r) AS cluster_id FROM walk GROUP BY u
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS cluster_size,
       (doc_id = cluster_id) AS is_keeper
FROM cc
""")
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters from the banded-LSH pair graph: one row
    per clustered doc with its component id (min doc_id reachable), the
    component size, and the keeper flag (keep-min policy). Docs with no
    near-dup edge are absent (they are their own trivial cluster)."""
    pairs, sig = _minhash_lsh_build(spark, sf_dir)
    pairs = pairs.localCheckpoint(eager=True)
    sig.unpersist(blocking=False)
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")))
    from pyspark.sql.window import Window
    size = Window.partitionBy("cluster_id")
    return (cc.select(F.col("node").alias("doc_id"), "cluster_id")
            .withColumn("cluster_size",
                        F.count(F.lit(1)).over(size).cast("long"))
            .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id")))


@_reg("corpus_dedup_apply", f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_LSH_PAIRS_SQL}) lsh
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
  UNION
  SELECT w.u, e.v FROM walk w JOIN edges e ON e.u = w.r
),
cc AS (
  SELECT u AS doc_id, MIN(r) AS cluster_id FROM walk GROUP BY u
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang,
       md5(d.text) AS text_hash
FROM documents d
LEFT JOIN cc ON CAST(d.doc_id AS BIGINT) = cc.doc_id
WHERE cc.doc_id IS NULL OR cc.doc_id = cc.cluster_id
""")
def corpus_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step that completes detect → cluster → clean: drop every
    non-keeper (cluster member that is not its component minimum) from the
    corpus. The drop-list is tiny (near-dups only), so the subtraction is
    a broadcast anti-join against the full table — one narrow pass at any
    corpus size."""
    clusters = dedup_cluster(spark, sf_dir)
    drop = clusters.where(~F.col("is_keeper")).select("doc_id")
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.md5("text").alias("text_hash"))
    return d.join(F.broadcast(drop), "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# SimHash (16-bit, portable bit extraction from md5 hex nibble parity)
# ---------------------------------------------------------------------------

_SH_BITS = list(range(16))

def _bit_sql(b: int) -> str:
    # nibble parity of hex char b+1 of md5(word): 1 bit per word per position
    return (f"CASE WHEN (instr('0123456789abcdef', substr(md5(g), {b + 1}, 1)) - 1) % 2 = 1 "
            f"THEN 1 ELSE -1 END")

@_reg("simhash16", f"""
WITH e AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest(string_split(text,' ')) AS g
  FROM documents
)
SELECT doc_id,
       {" || ".join(f"(CASE WHEN SUM({_bit_sql(b)}) >= 0 THEN '1' ELSE '0' END)" for b in _SH_BITS)} AS simhash
FROM e GROUP BY doc_id
""")
def simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split("text", " ")).alias("g"))
    # Project the digest ONCE per word; the 16 bit-aggregates below each read a
    # nibble of this shared column instead of re-hashing the word 16 times.
    d = d.select("doc_id", F.md5("g").alias("h"))
    bits = []
    for b in _SH_BITS:
        nib = (F.instr(F.lit("0123456789abcdef"),
                       F.substring(F.col("h"), b + 1, 1)) - 1) % 2
        bits.append(F.sum(F.when(nib == 1, 1).otherwise(-1)).alias(f"s{b}"))
    agg = d.groupBy("doc_id").agg(*bits)
    sim = F.concat(*[
        F.when(F.col(f"s{b}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for b in _SH_BITS])
    return agg.select("doc_id", sim.alias("simhash"))


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
    # Exchanges in the r6-before plan). Same persist-then-release pattern
    # as dedup_minhash_lsh.
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
    # released now (see dedup_minhash_lsh for the leak rationale)
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
# duplicated-substring detection: the substring-level dedup primitive
# ("Deduplicating Training Data Makes Language Models Better" -- the
# suffix-array pass's scalable approximation): every POSITIONAL 8-word
# window is hashed, windows whose hash occurs in >= 2 distinct documents
# are marked duplicated, and each affected doc reports how much of it is
# covered. Distinct from decontaminate (doc-vs-benchmark membership) and
# dedup_exact (whole-doc): this finds shared PASSAGES inside otherwise
# distinct documents. 100 TB shape: one explode of positional shingles,
# a two-step distinct+count on the hash (both map-side combinable), then
# a shuffle hash join shingles><dup-hashes -- the dup-hash side is NOT
# broadcast (at corpus scale it is unbounded); per-key the dup list is
# pre-aggregated to one row so the join cannot blow up, and AQE handles
# hot-hash skew. Output is one small row per affected doc.
# ---------------------------------------------------------------------------

_DUP_W = 8

@_reg("dup_substring_detect", f"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE length(text) > 0
),
s AS (
  SELECT doc_id, CAST(c AS INT) AS pos,
         md5(list_aggregate(ws[c + 1 : c + {_DUP_W}], 'string_agg', ' ')) AS h
  FROM t, UNNEST(generate_series(0, len(ws) - {_DUP_W})) AS u(c)
  WHERE len(ws) >= {_DUP_W}
),
d AS (
  SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM s GROUP BY h)
  WHERE nd >= 2
),
nw AS (
  SELECT doc_id, CAST(len(ws) - {_DUP_W} + 1 AS INT) AS n_windows
  FROM t WHERE len(ws) >= {_DUP_W}
)
SELECT s.doc_id, nw.n_windows,
       CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
       CAST(MIN(s.pos) AS INT) AS first_dup_pos
FROM s JOIN d USING (h) JOIN nw ON nw.doc_id = s.doc_id
GROUP BY s.doc_id, nw.n_windows
""")
def dup_substring_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (_docs(spark, sf_dir).where(F.length("text") > 0)
         .select(F.col("doc_id").cast("long").alias("doc_id"),
                 F.split("text", " ").alias("ws"))
         .where(F.size("ws") >= _DUP_W))
    wins = F.transform(
        F.sequence(F.lit(0), F.size("ws") - _DUP_W),
        lambda c: F.struct(
            c.cast("int").alias("pos"),
            F.md5(F.concat_ws(" ", F.slice(
                F.col("ws"), c.cast("int") + 1, _DUP_W))).alias("h")))
    s = (t.select("doc_id", F.explode(wins).alias("w"))
         .select("doc_id", "w.pos", "w.h"))
    # hashes seen in >= 2 distinct docs: distinct (h, doc_id) first so the
    # count is a plain map-side-combinable COUNT, not COUNT(DISTINCT)
    dup = (s.select("h", "doc_id").distinct()
           .groupBy("h").count().where(F.col("count") >= 2).select("h"))
    nw = t.select("doc_id",
                  (F.size("ws") - _DUP_W + 1).cast("int").alias("n_windows"))
    return (s.join(dup, "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_dup_windows"),
                 F.min("pos").cast("int").alias("first_dup_pos"))
            .join(nw, "doc_id")
            .select("doc_id", "n_windows", "n_dup_windows", "first_dup_pos"))


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
# duplicated-substring SCRUB: the apply step for dup_substring_detect --
# rebuild each document with every word position covered by a cross-document
# duplicated 8-word window removed (the "remove the duplicated span, keep
# the rest of the document" policy of substring-level dedup, vs dropping
# whole docs). Cross-engine check is exact: md5 of the kept words in
# original order. 100 TB shape: same two map-side-combinable aggregates as
# the detect pass; coverage is one bounded explode (8 rows per duplicated
# window, distinct-folded), and the rebuild is a null-skipping sort+concat
# aggregate per doc -- no unbounded join side, AQE handles hot hashes.
# ---------------------------------------------------------------------------

@_reg("dup_substring_scrub", f"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE length(text) > 0
),
s AS (
  SELECT doc_id, CAST(c AS INT) AS pos,
         md5(list_aggregate(ws[c + 1 : c + {_DUP_W}], 'string_agg', ' ')) AS h
  FROM t, UNNEST(generate_series(0, len(ws) - {_DUP_W})) AS u(c)
  WHERE len(ws) >= {_DUP_W}
),
d AS (
  SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM s GROUP BY h)
  WHERE nd >= 2
),
cov AS (
  SELECT DISTINCT s.doc_id, s.pos + o AS wi
  FROM s JOIN d USING (h), UNNEST(generate_series(0, {_DUP_W} - 1)) AS v(o)
),
k AS (
  SELECT t.doc_id, CAST(i - 1 AS INT) AS wi, ws[i] AS w
  FROM t, UNNEST(generate_series(1, len(ws))) AS g(i)
  WHERE len(ws) >= {_DUP_W}
)
SELECT k.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(COUNT(*) FILTER (WHERE cov.wi IS NULL) AS BIGINT) AS n_kept,
       md5(string_agg(CASE WHEN cov.wi IS NULL THEN k.w END,
                      ' ' ORDER BY k.wi)) AS scrubbed_hash
FROM k LEFT JOIN cov ON cov.doc_id = k.doc_id AND cov.wi = k.wi
GROUP BY k.doc_id
""")
def dup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (_docs(spark, sf_dir).where(F.length("text") > 0)
         .select(F.col("doc_id").cast("long").alias("doc_id"),
                 F.split("text", " ").alias("ws"))
         .where(F.size("ws") >= _DUP_W))
    wins = F.transform(
        F.sequence(F.lit(0), F.size("ws") - _DUP_W),
        lambda c: F.struct(
            c.cast("int").alias("pos"),
            F.md5(F.concat_ws(" ", F.slice(
                F.col("ws"), c.cast("int") + 1, _DUP_W))).alias("h")))
    s = (t.select("doc_id", F.explode(wins).alias("w"))
         .select("doc_id", "w.pos", "w.h"))
    dup = (s.select("h", "doc_id").distinct()
           .groupBy("h").count().where(F.col("count") >= 2).select("h"))
    cov = (s.join(dup, "h")
           .select("doc_id", F.explode(
               F.sequence(F.col("pos"), F.col("pos") + (_DUP_W - 1)))
               .alias("wi"))
           .select("doc_id", F.col("wi").cast("int").alias("wi"))
           .distinct()
           .withColumn("covered", F.lit(1)))
    words = t.select("doc_id", F.posexplode("ws").alias("wi", "w")) \
             .withColumn("wi", F.col("wi").cast("int"))
    kept_struct = F.when(F.col("covered").isNull(),
                         F.struct("wi", "w"))
    agg = (words.join(cov, ["doc_id", "wi"], "left")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_words"),
                F.count(F.when(F.col("covered").isNull(), 1))
                .alias("n_kept"),
                F.array_sort(F.collect_list(kept_struct)).alias("kept")))
    scrubbed = F.when(
        F.size("kept") > 0,
        F.md5(F.concat_ws(" ", F.transform(F.col("kept"),
                                           lambda x: x["w"]))))
    return agg.select("doc_id", "n_words", "n_kept",
                      scrubbed.alias("scrubbed_hash"))


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
# Triangle counting over the near-dup pair graph -- the classic distributed
# graph primitive beyond connected components (triangle density separates
# true duplicate CLIQUES from chained false positives in LSH output). The
# a<b edge orientation (already the pair contract) counts each triangle
# exactly once via two joins: (a,b)+(b,c) wedges closed by (a,c). 100 TB
# shape: per-key join fan-out is bounded by out-degree; production adds
# degree-ordering (orient each edge low-degree -> high-degree) so hot
# vertices don't own quadratic wedges -- same plan shape, and AQE splits
# any residual hot key. The edge list is localCheckpointed so the LSH
# build runs once, not three times.
# ---------------------------------------------------------------------------

@_reg("dedup_graph_triangles", f"""
WITH e AS (SELECT doc_a, doc_b FROM ({_LSH_PAIRS_SQL}) lsh)
SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
FROM e e1
JOIN e e2 ON e2.doc_a = e1.doc_b
JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
""")
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, sig = _minhash_lsh_build(spark, sf_dir)
    e = edges.select("doc_a", "doc_b").localCheckpoint(eager=True)
    sig.unpersist(blocking=False)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
            .join(e3, (F.col("e3.doc_a") == F.col("e1.doc_a"))
                  & (F.col("e3.doc_b") == F.col("e2.doc_b")))
            .select(F.col("e1.doc_a").alias("a"),
                    F.col("e1.doc_b").alias("b"),
                    F.col("e2.doc_b").alias("c")))


# ---------------------------------------------------------------------------
# MinHash accuracy evaluation -- sketch-vs-truth for every LSH candidate
# pair: the 8-permutation signature agreement (n_match) next to the TRUE
# shingle-set intersection/union and the exact-integer Jaccard (x1000,
# floored -- one float division with identical operands both engines).
# This is the measurement op a production dedup pipeline runs when tuning
# band/permutation counts: it quantifies how the sketch tracks reality on
# THIS corpus. 100 TB shape: truth is computed only for the candidate
# pairs (LSH-bounded, not all-pairs); the shingle join keys on the
# shingle string, both aggregates map-side combinable.
# ---------------------------------------------------------------------------

@_reg("minhash_accuracy_eval", f"""
WITH s AS ({_SHINGLES_SQL}),
p AS (SELECT doc_a, doc_b, n_match FROM ({_LSH_PAIRS_SQL}) lsh),
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
i AS (
  SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM p JOIN e ea ON ea.doc_id = p.doc_a
         JOIN e eb ON eb.doc_id = p.doc_b AND eb.g = ea.g
  GROUP BY p.doc_a, p.doc_b
),
n AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS ns FROM s)
SELECT p.doc_a, p.doc_b, CAST(p.n_match AS INT) AS n_match, i.inter,
       CAST(na.ns + nb.ns - i.inter AS BIGINT) AS uni,
       CAST(FLOOR(1000.0 * i.inter / (na.ns + nb.ns - i.inter)) AS BIGINT)
           AS jac_x1000
FROM p JOIN i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN n na ON na.doc_id = p.doc_a
JOIN n nb ON nb.doc_id = p.doc_b
""")
def minhash_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    s = d.select("doc_id",
                 _shingles(F.split("text", " ")).alias("sh"))
    pairs, sig = _minhash_lsh_build(spark, sf_dir)
    p = pairs.localCheckpoint(eager=True)
    sig.unpersist(blocking=False)
    e = s.select("doc_id", F.explode("sh").alias("g"))
    ea = e.select(F.col("doc_id").alias("da"), F.col("g").alias("ga"))
    eb = e.select(F.col("doc_id").alias("db"), F.col("g").alias("gb"))
    i = (p.join(ea, ea.da == p.doc_a)
         .join(eb, (eb.db == p.doc_b) & (eb.gb == ea.ga))
         .groupBy("doc_a", "doc_b")
         .agg(F.count(F.lit(1)).alias("inter")))
    n = s.select("doc_id", F.size("sh").cast("long").alias("ns"))
    na = n.select(F.col("doc_id").alias("da"), F.col("ns").alias("nsa"))
    nb = n.select(F.col("doc_id").alias("db"), F.col("ns").alias("nsb"))
    uni = F.col("nsa") + F.col("nsb") - F.col("inter")
    return (p.join(i, ["doc_a", "doc_b"])
            .join(na, F.col("da") == F.col("doc_a"))
            .join(nb, F.col("db") == F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.col("n_match").cast("int").alias("n_match"),
                    "inter", uni.cast("long").alias("uni"),
                    F.floor(1000.0 * F.col("inter") / uni).cast("long")
                    .alias("jac_x1000")))


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
