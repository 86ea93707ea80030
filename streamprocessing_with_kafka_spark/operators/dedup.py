"""Deduplication operator family over `documents` / `embeddings`
(BASELINE.json north star): exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the part that matters at 100 TB):
  - exact dedup: hash-groupBy on a fingerprint -- one shuffle, map-side
    combinable; the keeper rule (min doc_id) is deterministic, unlike
    dropDuplicates' arbitrary-first.
  - n-gram Jaccard: the pair search is *blocked* on shared shingles
    (explode -> shuffle on shingle -> per-shingle pair counts), never a
    cross join. Hot shingles are the skew risk: AQE skew-join splitting
    handles moderate skew, and the doc-frequency cap (`max_shingle_df`)
    is the production knob -- off by default so the registered oracle
    stays exact, unit-tested on a synthetic hot-shingle fixture with its
    recall bound documented at the parameter.
  - MinHash+LSH: signatures shrink each doc to PERMS ints; candidate
    generation is an equi-join on (band, band_key) -- the classic
    sub-quadratic path. All hashes are md5-derived (functions/hashing.py)
    so the DuckDB oracle reproduces the *exact* candidate set.
  - SimHash: 60-bit signature, banded into HAMMING_MAX+1 blocks and
    equi-joined on any matching block (pigeonhole: <= HAMMING_MAX flipped
    bits cannot touch every block, so recall is exactly 1 vs brute force
    and only candidates pay the exact hamming check). The oracle keeps the
    simple brute-force formulation -- same answers, different join
    strategy, which is the whole 100 TB story.
  - embedding cosine: banded random-hyperplane LSH candidates (equi-join
    on band key, exact cosine verify; similarity.embedding_near_dup_lsh).
    The brute-force cosine_pairs survives only as the tests' recall
    baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.functions.lineage import (
    ephemeral_local_checkpoint,
    free_local_checkpoint,
)
from streamprocessing_with_kafka_spark.functions.numeric import round_sql
from streamprocessing_with_kafka_spark.functions.hashing import (
    family_hashes_from_h,
    family_hashes_sql,
    md5_long,
    md5_long_sql,
)
from streamprocessing_with_kafka_spark.operators.similarity import (
    embedding_near_dup_lsh,
    embedding_near_dup_lsh_sql,
)
from streamprocessing_with_kafka_spark.operators.text import (
    CANONICAL_TEXT_SQL,
    canonical_text,
)
from streamprocessing_with_kafka_spark.sources.tables import load_table

# ---------------------------------------------------------------- exact


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by canonical-text fingerprint; deterministic keeper."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(canonical_text()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_EXACT_SQL = f"""
SELECT md5({CANONICAL_TEXT_SQL}) AS fingerprint,
       MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""

# ------------------------------------------------------- shingle helpers

SHINGLE_N = 3


def word_ngram_rows(
    docs: DataFrame, n: int, alias: str = "gram", repartition: bool = True
) -> DataFrame:
    """(doc_id, <alias>): each doc's DISTINCT word n-grams (docs with
    >= n tokens) over any frame with (doc_id, text) -- the shared
    fan-out under shingle dedup (n=3) and benchmark decontamination
    (n=5).

    Fan-out BEFORE the blow-up: the corpus parquet may arrive in a
    handful of splits, but n-gramming multiplies rows ~n_tokens-fold and
    hashing them dominates -- repartition so the expansion uses every
    core (at 100 TB: size input splits to the post-explode volume).
    Tokenize BEFORE the repartition: the exchange materializes the token
    array, so the split runs once per doc instead of being re-inlined
    into every element_at by projection collapse (measured 2x).
    Distinctness is decided on the gram STRING (pre-hash), so downstream
    hashing yields identical rows in Spark and the oracle even under a
    hash collision.

    repartition=False skips the fan-out exchange: consumers whose next
    operation is itself an aggregate exchange on a DIFFERENT key (e.g.
    the eval-side distinct-gram set in decontamination) gain nothing
    from pre-partitioning by doc_id -- their partial aggregate runs on
    the scan partitions and their own exchange moves far fewer bytes
    than the token arrays this exchange would carry.

    (r12 note: attaching the per-doc distinct-gram count here instead of
    via the consumer-side count-window was tried and measured SLOWER in
    both formulations -- explode(<expression>) strands size(<the whole
    gram expression>) above the Generate via ExtractGenerator, paying
    O(tokens^2) per doc, and explode(<bound attribute>) triggers
    InferFiltersFromGenerate pushing two full gram-array computations
    below the fan-out exchange. The window over the exploded rows rides
    the doc_id partitioning and costs ~nothing at any scale.)"""
    d = docs.select("doc_id", F.split("text", " ").alias("w"))
    if repartition:
        d = d.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    words = F.col("w")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + k) for k in range(n)]
            ),
        )
    )
    return (
        d.filter(F.size(words) >= n)
        .select("doc_id", F.explode(grams).alias(alias))
    )


def word_ngrams(
    spark: SparkSession, sf_dir: str, n: int, alias: str = "gram"
) -> DataFrame:
    """word_ngram_rows over the documents table. rebalance=False: the
    gram fan-out repartitions by doc_id itself, so the loader's
    round-robin exchange would be an immediately-discarded extra shuffle
    of the corpus (r12)."""
    return word_ngram_rows(
        load_table(spark, sf_dir, "documents", rebalance=False), n, alias
    )


def word_ngrams_sql(n: int, alias: str = "gram") -> str:
    """DuckDB twin of word_ngrams."""
    gram = " || ' ' || ".join(f"w[i+{k}]" for k in range(n))
    return f"""
SELECT doc_id, unnest(list_distinct(list_transform(
         range(1, len(w) - {n - 2}),
         i -> {gram}))) AS {alias}
FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
WHERE len(w) >= {n}
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return word_ngrams(spark, sf_dir, SHINGLE_N, alias="shingle")


_SHINGLES_SQL = word_ngrams_sql(SHINGLE_N, alias="shingle")

# ------------------------------------------------- n-gram Jaccard pairs


def _shingles_with_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, _h, n): the doc's shingles as 60-bit hashes plus its
    shingle-set size n, attached by a window so downstream joins carry
    it along instead of re-deriving it through separate broadcast
    branches. Materialized ONCE PER INVOCATION via an eager
    localCheckpoint.

    The shingle STRING never leaves this function: every consumer (pair
    blocking, signature mins, intersection counting) operates on the
    md5-derived hash, so the self-joins shuffle and compare 8-byte keys
    instead of ~20-byte strings (measured ~2x on the all-pairs join).
    Hash collisions would merge two shingles identically in Spark and the
    oracle (both compute the same md5), so parity is preserved by
    construction; at 2^-60 the effect on Jaccard itself is nil.

    Why materialize at all: Spark launches broadcast-exchange subtrees as
    concurrent jobs BEFORE the main stages run, so a lazily-shared frame
    under a broadcast branch gets recomputed once per branch in parallel
    (measured 2-3x the shingle explode). One eager localCheckpoint gives
    every consumer branch of THIS invocation the same materialized RDD.
    (Cluster analog: checkpoint the exploded table before the self-join
    fan-out.)

    Why NOT persist()/a cross-call memo (which r1-r11 used): persist
    registers the plan with the CacheManager, so a later identical
    invocation -- e.g. the next timed run of a bench loop -- silently
    reuses the first run's bytes instead of recomputing from parquet.
    That misstates what a fresh run of the query costs. localCheckpoint
    is keyed to the RDD of this call; every invocation recomputes, and
    the superseded blocks are GC-reclaimed by the ContextCleaner."""
    from pyspark.sql import Window as W

    sh = (
        _shingles(spark, sf_dir)
        .select("doc_id", md5_long(F.col("shingle")).alias("_h"))
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    )
    return ephemeral_local_checkpoint(sh)


def _group_pair_explode(
    df: DataFrame, key_cols: list[str], member, max_group: int | None = None
) -> DataFrame:
    """(a, b): all within-group ordered pairs (a < b, by the member's
    sort order) via ONE groupBy on the blocking key -- the fused
    replacement for the `frame.alias(a) JOIN frame.alias(b)` self-join.

    The self-join formulation scans and exchanges the member frame
    TWICE (or broadcasts one copy) and pays a third exchange for the
    downstream distinct/aggregate; fusing collects each group's members
    into a sorted array behind the group key's single exchange and
    streams the i<j expansion through two generators.  In-memory state
    per row is the GROUP (O(d) members, same as the blocked join's
    build side), never the O(d^2) pair set: the outer posexplode emits
    one row per member and the inner explode slices only that member's
    tail.  `max_group` fuses a group-size cap (e.g. a shingle
    document-frequency cap) into the same aggregate, replacing a
    separate count + semi-join."""
    size_ok = F.size("_ds") >= 2
    if max_group is not None:
        size_ok = size_ok & (F.size("_ds") <= max_group)
    g = (
        df.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(member)).alias("_ds"))
        .filter(size_ok)
    )
    m = g.select("_ds", F.posexplode("_ds").alias("_i", "a"))
    return m.select(
        "a",
        F.explode(
            F.slice(F.col("_ds"), F.col("_i") + F.lit(2), F.size("_ds"))
        ).alias("b"),
    )


def _pair_intersections_fused(sh: DataFrame, max_shingle_df: int) -> DataFrame:
    """(doc_a, doc_b, inter, na, nb) via the fused group-pair path --
    the CAPPED pair search.  The cap becomes the blocking aggregate's
    group-size filter (replacing the r12 count + semi-join, two fewer
    stages; A/B at sf0.1: 1.26 -> 1.07 s), and the bound on group size
    also bounds the collected array, so the ObjectHashAggregate that
    makes this path a loss for the UNCAPPED search (below) stays cheap.
    Each doc contributes a hash at most once, so members sort strictly
    by doc_id and a < b is exactly the self-join's doc_id ordering; the
    per-doc sizes ride the collected struct."""
    pe = _group_pair_explode(
        sh, ["_h"], F.struct("doc_id", "n"), max_group=max_shingle_df
    )
    return (
        pe.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )


def _pair_intersections(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, na, nb) for every doc pair sharing >= 1
    shingle hash -- the UNCAPPED pair search, kept as the blocked
    self-join: the fused group-pair alternative was A/B'd SLOWER here
    (1.15 -> 1.51 s at sf0.1) because collect_list over the mostly-
    singleton hash groups drives ObjectHashAggregate into its sort-based
    fallback, while the join's build side is a plain hash relation.  At
    lake scale the join is the standard blocked formulation (AQE picks
    SMJ once the frame outgrows broadcast; skew-join splitting applies
    -- neither exists for a single giant aggregate group)."""
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a._h") == F.col("b._h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )


def jaccard_pairs_from_shingles(
    sh: DataFrame, threshold: float, max_shingle_df: int | None = None
) -> DataFrame:
    """Pair search over a (doc_id, _h, n) shingle frame: blocked on shared
    shingle hashes, exact Jaccard, threshold filter.

    `max_shingle_df` is the production hot-shingle knob: a shingle shared
    by d documents generates O(d^2) candidate pairs, so one boilerplate
    shingle in millions of docs turns the blocked pair search quadratic.
    The cap is fused into the blocking aggregate's group-size filter
    (r13; previously a separate count + semi-join -- see
    _pair_intersections_fused). Recall bound: per-doc set sizes `n` stay
    UNCAPPED, so the capped Jaccard only loses intersection mass -- it
    UNDERestimates, making the capped result a strict subset of the exact
    one (precision 1); a true near-dup pair is missed only if
    > (1 - threshold/(1+threshold)) * |union| of its shared shingles are
    hot, which for real corpora means boilerplate-only overlap -- usually
    exactly the pairs you do NOT want merged. Default off so the
    registered oracle stays exact."""
    inter = (
        _pair_intersections_fused(sh, max_shingle_df)
        if max_shingle_df is not None
        else _pair_intersections(sh)
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def verify_jaccard_pairs(
    cand: DataFrame,
    sh_left: DataFrame,
    sh_right: DataFrame,
    left: str,
    right: str,
    threshold: float,
    broadcast_right: bool = False,
) -> DataFrame:
    """Exact-Jaccard verify tail over candidate (left, right) doc pairs:
    join each side's (doc_id, _h, n) shingle frame on the hash, ONE
    aggregate counts the intersection (the window-attached n rides the
    joins, so no extra count branches), round to 6dp, threshold filter.

    THE shared arithmetic under minhash_lsh_pairs, dedup_incremental and
    decontaminate_fuzzy -- one definition so a change to the rounding or
    denominator contract cannot silently diverge between operators (each
    has its own oracle SQL pinning this exact formula)."""
    sa = sh_left.alias("sa")
    sb0 = sh_right.alias("sb")
    sb = F.broadcast(sb0) if broadcast_right else sb0
    jac = F.round(
        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        6,
    )
    return (
        cand.join(sa, F.col(left) == F.col("sa.doc_id"))
        .join(sb, (F.col(right) == F.col("sb.doc_id")) & (F.col("sa._h") == F.col("sb._h")))
        .groupBy(left, right)
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("sa.n")).alias("na"),
            F.first(F.col("sb.n")).alias("nb"),
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(left, right, "jaccard")
    )


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over 3-gram shingles, blocked on
    shared shingles (no cross join). See jaccard_pairs_from_shingles for
    the hot-shingle `max_shingle_df` production knob."""
    return jaccard_pairs_from_shingles(
        _shingles_with_count(spark, sf_dir), threshold, max_shingle_df
    )


NGRAM_JACCARD_SQL = f"""
WITH sh0 AS ({_SHINGLES_SQL}),
sh AS (SELECT doc_id, {md5_long_sql('shingle')} AS _h FROM sh0),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a._h = b._h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE round(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 6) >= 0.8
"""

#: demo-scale hot-shingle cap for the REGISTERED capped query. Binds at
#: the test scales (drops the df>4 shingles the planted dup clusters
#: share) so the driver row proves the capped semantics, not a no-op; a
#: production corpus caps in the thousands (boilerplate-df territory).
CAPPED_MAX_SHINGLE_DF = 4


def ngram_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION plan for n-gram Jaccard: identical to
    ngram_jaccard_pairs but with the hot-shingle cap ON, so the O(d^2)
    blowup a boilerplate shingle causes is structurally impossible. Capped
    Jaccard underestimates (per-doc set sizes stay uncapped), so the
    result is a strict subset of the exact pairs -- precision 1, recall
    bound documented on jaccard_pairs_from_shingles."""
    return ngram_jaccard_pairs(
        spark, sf_dir, max_shingle_df=CAPPED_MAX_SHINGLE_DF
    )


NGRAM_JACCARD_CAPPED_SQL = f"""
WITH sh0 AS ({_SHINGLES_SQL}),
sh AS (SELECT doc_id, {md5_long_sql('shingle')} AS _h FROM sh0),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
keep AS (SELECT _h FROM sh GROUP BY 1 HAVING COUNT(*) <= {CAPPED_MAX_SHINGLE_DF}),
shc AS (SELECT sh.doc_id, sh._h FROM sh JOIN keep USING (_h)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM shc a JOIN shc b ON a._h = b._h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE round(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 6) >= 0.8
"""

# ------------------------------------------------------ containment pairs

#: containment fence C(A,B) = |S_A n S_B| / min(|S_A|, |S_B|): the
#: asymmetric near-dup score that catches SUBSET duplication (one doc
#: embedded verbatim inside a larger one) which symmetric Jaccard
#: dilutes toward 0 as the size ratio grows -- the RefinedWeb/Gopher
#: curation criterion for quote-and-extend duplicates.
CONTAINMENT_THRESHOLD = 0.9


def containment_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """Near-dup pairs by shingle containment: same blocked pair search as
    ngram_jaccard_pairs (shared-shingle equi-join on the materialized
    hash frame -- no cross join, same one candidate shuffle), but scored
    by intersection over the SMALLER shingle set. A 100-word doc pasted
    into a 10,000-word doc scores ~1.0 here vs ~0.01 Jaccard."""
    sh = _shingles_with_count(spark, sf_dir)
    cont = F.round(
        F.col("inter") / F.least("na", "nb").cast("double"), 6
    )
    return (
        _pair_intersections(sh)
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "na", "nb", "containment")
    )


CONTAINMENT_PAIRS_SQL = f"""
WITH sh0 AS ({_SHINGLES_SQL}),
sh AS (SELECT doc_id, {md5_long_sql('shingle')} AS _h FROM sh0),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a._h = b._h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ca.n AS na, cb.n AS nb,
       round(inter / CAST(least(ca.n, cb.n) AS DOUBLE), 6) AS containment
FROM inter
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE round(inter / CAST(least(ca.n, cb.n) AS DOUBLE), 6)
      >= {CONTAINMENT_THRESHOLD}
"""

# --------------------------------------------------------- MinHash + LSH

PERMS = 16
BANDS = 4
ROWS_PER_BAND = PERMS // BANDS


def _signature_agg(sh: DataFrame) -> DataFrame:
    """groupBy(doc_id) -> PERMS columnar min-hash columns mh0..mh{PERMS-1}.

    One md5 per shingle row, expanded to PERMS permutations by the
    Carter-Wegman family (functions/hashing.py) -- measured ~16x cheaper
    than one md5 per permutation. Columnar mins (not an explode-by-perm):
    ONE groupBy with PERMS map-side-combinable min aggregates -- the
    shuffle carries |docs| rows instead of PERMS x |shingles|.
    """
    hashed = sh if "_h" in sh.columns else sh.withColumn(
        "_h", md5_long(F.col("shingle"))
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(hp).alias(f"mh{p}")
            for p, hp in enumerate(family_hashes_from_h(F.col("_h"), PERMS))
        ]
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh{PERMS-1}): PERMS independent hash permutations,
    min over the doc's shingles."""
    return _signature_agg(_shingles(spark, sf_dir))


def _band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): md5 over each band's signature slice."""
    per_band = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{p}").cast("string")
                        for p in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*per_band)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.7,
    sh: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs (equi-join on band keys) verified with exact
    Jaccard; returns pairs with jaccard >= threshold that LSH surfaced.
    (r13 note: fused group-pair generation on the band keys was A/B'd
    here and measured SLOWER at sf0.1 -- 1.34 -> 1.52 s -- for the same
    ObjectHashAggregate reason as the uncapped shingle pair search; the
    self-join keeps the hash-relation build and AQE's broadcast/SMJ/
    skew handling.)

    `sh` / `bands` let a composition (pipeline_export_packed) pass the
    shared shingle and band frames so they are built once per pipeline
    invocation instead of once per consumer; defaults = computed here,
    bit-identical."""
    if sh is None:
        sh = _shingles_with_count(spark, sf_dir)  # feeds signatures + verify
    if bands is None:
        bands = _band_keys(_signature_agg(sh))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact jaccard over the same persisted
    # shingles (the shared tail)
    return verify_jaccard_pairs(cand, sh, sh, "doc_a", "doc_b", threshold)


_MH_COLS_SQL = ",\n         ".join(
    f"MIN({expr}) AS mh{p}"
    for p, expr in enumerate(family_hashes_sql("_h", PERMS))
)
_BANDS_SQL = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM mh".format(
        b=b,
        key=" || ',' || ".join(
            f"CAST(mh{p} AS VARCHAR)"
            for p in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
        ),
    )
    for b in range(BANDS)
)

MINHASH_LSH_SQL = f"""
WITH sh0 AS ({_SHINGLES_SQL}),
sh AS (SELECT doc_id, {md5_long_sql('shingle')} AS _h FROM sh0),
mh AS (
  SELECT doc_id,
         {_MH_COLS_SQL}
  FROM sh
  GROUP BY doc_id
),
bands AS (
{_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS inter
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sb._h = sa._h
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE round(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 6) >= 0.7
"""

# --------------------------------------------------------------- SimHash

SIMHASH_BITS = 60  # md5_long yields 60 uniform bits
HAMMING_MAX = 6


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc: token-frequency-weighted bit voting over
    md5-derived token hashes."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    tf = tf.withColumn("h", md5_long(F.col("token")))
    bits = tf.select(
        "doc_id",
        "cnt",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("j"),
    ).withColumn(
        "contrib",
        F.col("cnt") * (F.expr("shiftright(h, j) & 1") * 2 - 1),
    )
    votes = bits.groupBy("doc_id", "j").agg(F.sum("contrib").alias("s"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(
                F.lit(0)
            )
        ).alias("simhash")
    )


SIMHASH_BLOCKS = HAMMING_MAX + 1  # pigeonhole: <=6 flipped bits can't touch all 7


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= HAMMING_MAX, via banded
    candidate generation -- NOT the O(n^2) signature cross join.

    Pigeonhole: split the 60-bit signature into HAMMING_MAX+1 blocks; any
    pair within HAMMING_MAX differing bits must agree EXACTLY on >= 1
    block, so an equi-join on (block_idx, block_bits) finds every
    qualifying pair (recall = 1 -- the banding is lossless, unlike LSH) and
    only candidate pairs pay the exact hamming check. The result is
    provably identical to the brute-force oracle; only the join strategy
    changed -- which is the whole 100 TB story.
    """
    # No materialization barrier: since the fused group-pair generation
    # (r13) the signature frame has exactly ONE consumer branch, so the
    # eager localCheckpoint the r12 self-join needed (two concurrent
    # branches would each recompute the signatures) is pure overhead.
    sig = simhash_signatures(spark, sf_dir)
    bits_per = (SIMHASH_BITS + SIMHASH_BLOCKS - 1) // SIMHASH_BLOCKS  # 9
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * bits_per)
                        .bitwiseAND(F.lit((1 << bits_per) - 1))
                        .alias("bits"),
                    )
                    for i in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.bits").alias("bits"))
    cand = (
        _group_pair_explode(
            blocks, ["blk", "bits"], F.struct("doc_id", "simhash")
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


SIMHASH_PAIRS_SQL = f"""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS cnt,
         CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY 1, 2
),
votes AS (
  SELECT doc_id, j, SUM(cnt * (((h >> j) & 1) * 2 - 1)) AS s
  FROM tf, (SELECT unnest(range(0, {SIMHASH_BITS})) AS j)
  GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
  FROM votes GROUP BY 1
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""

# ------------------------------------- near-dup clusters -> keeper docs


def dedup_cluster_keepers(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.7,
    sh: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Connected components over the MinHash near-dup pair graph: each doc
    mapped to its cluster's keeper (= min doc_id reachable through near-dup
    edges) -- the step that turns pairwise similarity into an actual
    dedup decision.

    Iterative min-label propagation: labels start as doc_id; each round
    every node takes the min of its own and its neighbors' labels;
    converged when a round changes nothing. Rounds needed = graph diameter
    (near-dup clusters are small and dense, so a handful; the loop is
    bounded and checks an aggregate, not collect()). Each round is one
    equi-join + groupBy -- all shuffle-parallel; at petabyte scale the
    same loop is the standard large/small-star formulation. The DuckDB
    oracle computes reachability with a recursive CTE -- an entirely
    different algorithm arriving at the same fixpoint.

    Every round ends in localCheckpoint, which TRUNCATES LINEAGE --
    without it the loop unrolls into one plan (measured: 5000+
    exchanges in the static explain after convergence), and at scale
    the analyzer/optimizer cost of that plan, not the data, becomes
    the bottleneck. (Cluster analog: reliable checkpoint() to survive
    executor loss; local storage suffices in one JVM.) Superseded
    rounds' checkpoint blocks are freed EAGERLY via the LogicalRDD
    handle -- waiting for the driver's GC-driven ContextCleaner would
    let up to 30 rounds of dead label RDDs pile up in executor
    storage.
    """
    _free_checkpoint = free_local_checkpoint

    pairs = minhash_lsh_pairs(spark, sf_dir, threshold, sh=sh, bands=bands).select(
        "doc_a", "doc_b"
    )
    # undirected edge list, both directions
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    prev = labels
    for _ in range(30):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # path-halving shortcut: also take the label OF the current
        # label (labels only ever hold graph-node ids, so the self-join
        # always hits). Plain propagation advances one hop per round --
        # a diameter-d chain needs d rounds and a 30-round cap would
        # SILENTLY return non-converged labels on a 35-revision chain;
        # with the shortcut the reach doubles per round, so 30 rounds
        # cover any component a petabyte could hold (2^30 diameter).
        lab2 = labels.select(
            F.col("doc_id").alias("_l"), F.col("label").alias("_ll")
        )
        updated = (
            labels.join(neighbor_min, "doc_id", "left")
            .join(lab2, F.col("label") == F.col("_l"))
            .select(
                "doc_id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                    F.col("_ll"),
                ).alias("new_label"),
                "label",
            )
        ).localCheckpoint()  # eager: materializes the round, truncates lineage
        _free_checkpoint(prev)
        prev = updated
        changed = updated.filter(F.col("new_label") != F.col("label")).count()
        labels = updated.select("doc_id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:  # pragma: no cover - 2^30-diameter component
        raise RuntimeError(
            "connected components did not converge in 30 doubling rounds"
        )
    _free_checkpoint(edges)
    return labels.select("doc_id", F.col("label").alias("keeper_doc_id"))


DEDUP_CLUSTER_KEEPERS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({MINHASH_LSH_SQL})
),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, r) AS (
  SELECT doc_a, doc_a FROM edges
  UNION
  SELECT reach.doc_id, edges.doc_b
  FROM reach JOIN edges ON reach.r = edges.doc_a
)
SELECT doc_id, MIN(r) AS keeper_doc_id FROM reach GROUP BY doc_id
"""

# ------------------------------------------- embedding-cosine near-dup


def embedding_near_dup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """Near-dup vector pairs by cosine >= threshold, via banded
    random-hyperplane LSH candidates (equi-join on band key -- never the
    all-pairs theta join; see similarity.embedding_near_dup_lsh).
    Deterministic md5 planes make the candidate set oracle-reproducible;
    recall vs the brute-force baseline (cosine_pairs) is bounded in
    tests."""
    return embedding_near_dup_lsh(spark, sf_dir, threshold)


EMBEDDING_NEAR_DUP_SQL = embedding_near_dup_lsh_sql(0.4)

#: demo-scale hot-bucket cap for the REGISTERED capped query: the p99 of
#: the fixture's bucket-size distribution (median 31, p90 ~42, max 56),
#: so only the genuinely hot tail drops -- the driver row proves the
#: capped semantics BINDS without gutting recall; a sized production
#: index caps orders of magnitude higher
CAPPED_MAX_BUCKET = 48


def embedding_near_dup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION plan for embedding near-dup: identical to
    embedding_near_dup but with the hot-bucket cap ON, so a degenerate
    (band, band_key) bucket can never turn the candidate equi-join
    quadratic (the embedding-space twin of the jaccard `max_shingle_df`
    cap). Survivors still pay the exact cosine -- precision 1; the recall
    contract is documented on similarity.embedding_near_dup_lsh."""
    return embedding_near_dup_lsh(
        spark, sf_dir, max_bucket_size=CAPPED_MAX_BUCKET
    )


EMBEDDING_NEAR_DUP_CAPPED_SQL = embedding_near_dup_lsh_sql(0.4, CAPPED_MAX_BUCKET)

# --------------------------------- dedup-aware (leakage-safe) data split


SPLIT_PCTS = (80, 10)  # train / val; remainder = test


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment where a near-dup CLUSTER is the atomic
    unit: every document is keyed by its cluster keeper (its own doc_id if
    it has no near-dups), and the split is a deterministic md5 hash of the
    KEEPER -- so two near-duplicate documents can never land in different
    splits. Splitting by raw doc_id is the classic eval-leakage bug
    (train/test near-dup contamination); this operator is the fix, and the
    whole point of computing connected components in a curation pipeline.

    Scale: one broadcast-ready |clustered-docs|-row join on top of the CC
    labels (near-dup clusters are a small fraction of any real corpus);
    the md5 bucket is a narrow map. The no-straddling invariant is
    property-tested in tests/test_dedup.py."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    keepers = dedup_cluster_keepers(spark, sf_dir)
    keyed = d.join(keepers, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("keeper_doc_id"), F.col("doc_id")).alias("split_key"),
    )
    bucket = md5_long(F.concat(F.lit("split|"), F.col("split_key").cast("string"))) % 100
    train, val = SPLIT_PCTS
    return keyed.select(
        "doc_id",
        "split_key",
        F.when(bucket < train, "train")
        .when(bucket < train + val, "val")
        .otherwise("test")
        .alias("split"),
    )


SPLIT_LEAKAGE_SAFE_SQL = f"""
WITH keepers AS ({DEDUP_CLUSTER_KEEPERS_SQL}),
keyed AS (
  SELECT d.doc_id, COALESCE(k.keeper_doc_id, d.doc_id) AS split_key
  FROM documents d LEFT JOIN keepers k ON d.doc_id = k.doc_id
)
SELECT doc_id, split_key,
  CASE WHEN {md5_long_sql("'split|' || CAST(split_key AS VARCHAR)")} % 100 < {SPLIT_PCTS[0]}
         THEN 'train'
       WHEN {md5_long_sql("'split|' || CAST(split_key AS VARCHAR)")} % 100 < {SPLIT_PCTS[0] + SPLIT_PCTS[1]}
         THEN 'val'
       ELSE 'test' END AS split
FROM keyed
"""

# ------------------------- exact-substring (duplicated-span) detection

#: span length in words -- long enough that a repeat across documents is
#: near-certainly copied text, not chance (Lee et al. 2021, "Deduplicating
#: Training Data Makes Language Models Better", uses 50 BPE tokens; 8 words
#: plays the same role at the demo vocabulary size)
DUP_SPAN_N = 8
#: drop documents where more than this fraction of spans appear verbatim in
#: another document -- they are mostly boilerplate / copies
DUP_SPAN_MAX_FRAC = 0.5


def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication, the cross-document complement of
    whole-doc dedup: for each document, how many of its word
    DUP_SPAN_N-grams occur verbatim in at least one OTHER document, and
    the keep/drop verdict at DUP_SPAN_MAX_FRAC.

    Whole-doc dedup (exact/MinHash/SimHash) misses the memorization
    hazard of a 1000-word page that embeds one heavily-syndicated
    paragraph; span-level counting catches it. We count DISTINCT spans
    per document (a span repeated inside one doc is intra-doc repetition,
    `text_repetition`'s job, and self-repeats must not inflate the
    cross-doc frequency), so `dup_frac` is the fraction of the document's
    distinct spans that some other document also contains.

    Scale shape: explode to distinct (doc, span-hash) rows [one
    repartition], span document-frequency by hash groupBy [one map-side
    combinable shuffle], hot spans equi-joined back [shuffle join on the
    8-byte hash], per-doc counts [one final groupBy]. No self-join of
    documents ever happens -- the df table is the only cross-document
    structure, which is what keeps this linear at 100 TB. The df table
    itself is the production knob surface: persist it once and every
    corpus refresh reuses it incrementally (new docs only add counts)."""
    return dup_span_stats_frame(load_table(spark, sf_dir, "documents"))


def dup_span_stats_frame(d: DataFrame) -> DataFrame:
    """dup_span_stats over any (doc_id, text) frame (fixture-testable)."""
    g = word_ngram_rows(d, DUP_SPAN_N, alias="span").select(
        "doc_id", md5_long(F.col("span")).alias("_h")
    )
    dup = (
        g.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("_h", F.lit(1).alias("_dup"))
    )
    per = (
        g.join(dup, "_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count("_dup").alias("n_dup_spans"),
        )
    )
    out = d.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0).cast("bigint")).alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0).cast("bigint")).alias("n_dup_spans"),
        F.coalesce(
            F.round(F.col("n_dup_spans") / F.col("n_spans").cast("double"), 6),
            F.lit(0.0),
        ).alias("dup_frac"),
    )
    return out.withColumn("keep", F.col("dup_frac") <= DUP_SPAN_MAX_FRAC)


_DUP_SPANS_SQL = word_ngrams_sql(DUP_SPAN_N, alias="span")

DUP_SPAN_STATS_SQL = f"""
WITH g0 AS ({_DUP_SPANS_SQL}),
g AS (SELECT doc_id, {md5_long_sql('span')} AS _h FROM g0),
dup AS (SELECT _h FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
per AS (
  SELECT g.doc_id,
         COUNT(*) AS n_spans,
         COUNT(dup._h) AS n_dup_spans
  FROM g LEFT JOIN dup ON g._h = dup._h
  GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(per.n_spans, 0) AS n_spans,
       COALESCE(per.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(round(per.n_dup_spans / CAST(per.n_spans AS DOUBLE), 6), 0.0)
         AS dup_frac,
       COALESCE(round(per.n_dup_spans / CAST(per.n_spans AS DOUBLE), 6), 0.0)
         <= {DUP_SPAN_MAX_FRAC} AS keep
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


# ------------------------- duplicated-span REMOVAL (scrub, Lee et al. 2021)


def dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as a CLEANING transform, not just a detector:
    remove every occurrence of a duplicated word DUP_SPAN_N-gram except the
    canonical first (corpus-min (doc_id, pos)) occurrence, and rebuild the
    document text from the surviving tokens (Lee et al. 2021 remove all but
    one occurrence of each duplicated substring; `dup_span_stats` is the
    audit, this is the edit).

    Semantics (deterministic, oracle-mirrored):
      - occurrence = (doc_id, pos, span-hash) for EVERY span start (NOT
        distinct -- removal operates on occurrences; intra-doc repeats of a
        cross-doc span are removed too, with the global keeper winning).
      - keeper = ROW_NUMBER() OVER (PARTITION BY hash ORDER BY doc_id, pos)
        == 1; every rn >= 2 occurrence is removed.
      - a token is dropped iff some removed occurrence covers its position;
        overlapping removed spans union naturally via the covered-set.

    Scale shape: span fan-out reuses the doc_id repartition [1 exchange],
    keeper ranking is one window shuffle on the 8-byte span hash, the
    covered positions collapse back to a per-doc drop-list [1 doc_id
    shuffle, rows ~ removed spans only], and the rebuild is a NARROW array
    filter over the original token array after a doc_id equi-join -- the
    corpus text itself is never exploded to token rows or re-sorted. No
    doc-doc self-join anywhere, same as dup_span_stats."""
    return dup_span_scrub_frame(load_table(spark, sf_dir, "documents"))


def dup_span_scrub_frame(d: DataFrame) -> DataFrame:
    n = DUP_SPAN_N
    toks = d.select("doc_id", F.split("text", " ").alias("w")).repartition(
        d.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    w = F.col("w")
    occ = (
        toks.filter(F.size(w) >= n)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - (n - 1)),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(w, i + k) for k in range(n)]
                    ),
                )
            ).alias("p0", "span"),
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            md5_long(F.col("span")).alias("_h"),
        )
    )
    from pyspark.sql import Window

    rank = Window.partitionBy("_h").orderBy("doc_id", "pos")
    removed = (
        occ.withColumn("rn", F.row_number().over(rank))
        .filter(F.col("rn") >= 2)
        .select("doc_id", "pos")
    )
    drop_sets = (
        removed.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("drop_pos"))
    )
    dropped = F.coalesce(F.col("drop_pos"), F.array().cast("array<int>"))
    kept_arr = F.filter(w, lambda x, i: ~F.array_contains(dropped, i + 1))
    return toks.join(drop_sets, "doc_id", "left").select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(kept_arr).alias("n_tokens_kept"),
        F.array_join(kept_arr, " ").alias("scrubbed_text"),
    )


def _dup_span_scrub_sql() -> str:
    n = DUP_SPAN_N
    gram = " || ' ' || ".join(f"w[i+{k}]" for k in range(n))
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
occ AS (
  SELECT doc_id, i AS pos, {md5_long_sql(f"({gram})")} AS _h
  FROM d, unnest(range(1, len(w) - {n - 2})) AS t(i)
  WHERE len(w) >= {n}
),
removed AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY _h ORDER BY doc_id, pos) AS rn
    FROM occ
  ) WHERE rn >= 2
),
drop_sets AS (
  SELECT doc_id, list(DISTINCT pos + j) AS drop_pos
  FROM removed, unnest(range(0, {n})) AS u(j)
  GROUP BY doc_id
),
rebuilt AS (
  SELECT d.doc_id, d.w,
         list_select(d.w, list_filter(range(1, len(d.w) + 1),
           i -> NOT list_contains(COALESCE(s.drop_pos, []), i))) AS kept
  FROM d LEFT JOIN drop_sets s ON d.doc_id = s.doc_id
)
SELECT doc_id,
       len(w) AS n_tokens,
       len(kept) AS n_tokens_kept,
       -- two edge cases pull apart here: a FULLY-SCRUBBED doc has
       -- kept = [] and DuckDB's array_to_string([]) is NULL where the
       -- engine's array_join([]) is '' (hence the COALESCE); a
       -- NULL-TEXT doc has kept = NULL and must STAY NULL like the
       -- engine's array_join(NULL) (hence the CASE guard)
       CASE WHEN kept IS NULL THEN NULL
            ELSE COALESCE(array_to_string(kept, ' '), '') END AS scrubbed_text
FROM rebuilt
"""


DUP_SPAN_SCRUB_SQL = _dup_span_scrub_sql()


# ------------------------------------------------- incremental (snapshot)

#: deterministic ingest split for the registered query: doc_id % 10 == 0
#: is "today's batch", the rest is the historical corpus. Production swaps
#: this predicate for the real batch boundary (ingest date partition).
INCREMENTAL_BATCH_MOD = 10
INCREMENTAL_THRESHOLD = 0.7


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) dedup: classify each NEW-batch doc
    against the HISTORICAL corpus as exact_dup / near_dup / kept.

    This is the daily-ingest shape of dedup at 100 TB: the historical
    corpus is petabyte-scale and must never self-join again -- only the
    (small) new batch joins against it.

    Scale design:
      - exact phase: batch fingerprints left-semi join the historical
        fingerprint store. One equi-shuffle on the fingerprint; in
        production the store is bucketed by fingerprint so only the
        batch side moves.
      - near phase: MinHash band keys (same PERMS/BANDS family as
        dedup_minhash_lsh, so history's bands are precomputable and
        STORED -- the expensive signature pass over history runs once
        per corpus, not once per batch). Candidates = equi-join of
        batch bands against history bands; only candidates pay the
        exact-Jaccard verify.
      - precedence: exact_dup > near_dup > kept, decided per batch doc
        with two broadcast-sized left joins.

    The oracle mirrors the SAME banded candidate generation, so parity
    is exact even where banding trades recall (a near-dup pair missed
    by every band is missed identically in both engines)."""
    d = load_table(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % INCREMENTAL_BATCH_MOD) == 0

    fp = d.select(
        "doc_id", F.md5(canonical_text()).alias("fingerprint"), is_batch.alias("_b")
    )
    exact_dups = (
        fp.filter("_b")
        .join(fp.filter(~F.col("_b")).select("fingerprint").distinct(), "fingerprint", "left_semi")
        .select("doc_id")
    )

    sh = _shingles_with_count(spark, sf_dir)
    bands = _band_keys(_signature_agg(sh))
    bb = bands.filter((F.col("doc_id") % INCREMENTAL_BATCH_MOD) == 0).alias("b")
    hb = bands.filter((F.col("doc_id") % INCREMENTAL_BATCH_MOD) != 0).alias("h")
    cand = (
        bb.join(
            hb,
            (F.col("b.band") == F.col("h.band"))
            & (F.col("b.band_key") == F.col("h.band_key")),
        )
        .select(
            F.col("b.doc_id").alias("batch_doc"), F.col("h.doc_id").alias("hist_doc")
        )
        .distinct()
    )
    near_dups = (
        verify_jaccard_pairs(
            cand, sh, sh, "batch_doc", "hist_doc", INCREMENTAL_THRESHOLD
        )
        .select(F.col("batch_doc").alias("doc_id"))
        .distinct()
    )

    batch = d.filter(is_batch).select("doc_id")
    return (
        batch.join(exact_dups.withColumn("_e", F.lit(1)), "doc_id", "left")
        .join(near_dups.withColumn("_n", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH sh0 AS ({_SHINGLES_SQL}),
sh AS (SELECT doc_id, {md5_long_sql('shingle')} AS _h FROM sh0),
mh AS (
  SELECT doc_id,
         {_MH_COLS_SQL}
  FROM sh
  GROUP BY doc_id
),
bands AS (
{_BANDS_SQL}
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
cand AS (
  SELECT DISTINCT b.doc_id AS batch_doc, h.doc_id AS hist_doc
  FROM bands b JOIN bands h
    ON b.band = h.band AND b.band_key = h.band_key
  WHERE b.doc_id % {INCREMENTAL_BATCH_MOD} = 0
    AND h.doc_id % {INCREMENTAL_BATCH_MOD} != 0
),
near AS (
  SELECT DISTINCT batch_doc AS doc_id FROM (
    SELECT batch_doc, hist_doc, COUNT(*) AS inter
    FROM cand
    JOIN sh sa ON sa.doc_id = batch_doc
    JOIN sh sb ON sb.doc_id = hist_doc AND sb._h = sa._h
    GROUP BY 1, 2
  ) i
  JOIN counts ca ON i.batch_doc = ca.doc_id
  JOIN counts cb ON i.hist_doc = cb.doc_id
  WHERE round(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 6)
        >= {INCREMENTAL_THRESHOLD}
),
fp AS (SELECT doc_id, md5({CANONICAL_TEXT_SQL}) AS fingerprint FROM documents),
exact AS (
  SELECT b.doc_id FROM fp b
  WHERE b.doc_id % {INCREMENTAL_BATCH_MOD} = 0
    AND b.fingerprint IN (
      SELECT fingerprint FROM fp WHERE doc_id % {INCREMENTAL_BATCH_MOD} != 0)
)
SELECT d.doc_id,
  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
       ELSE 'kept' END AS status
FROM documents d
LEFT JOIN exact e ON d.doc_id = e.doc_id
LEFT JOIN near n ON d.doc_id = n.doc_id
WHERE d.doc_id % {INCREMENTAL_BATCH_MOD} = 0
"""


def dedup_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DASHBOARD: per-source duplication pressure from the
    MinHash near-dup clusters -- corpus curation's "which source is
    feeding us copies?" monitoring row.

    Composes `dedup_cluster_keepers` (docs in near-dup clusters with
    their CC keeper) against the documents dim: per source it reports
    total docs, docs entangled in a dup cluster, docs a keeper-only
    export would DROP, the drop fraction, and how many distinct
    clusters touch the source (clusters may straddle sources -- the
    count is per-source reach, not a partition).

    Scale: the cluster labels frame is |dup docs| rows (tiny vs the
    corpus); the join back to documents is on doc_id and the final
    aggregate is |sources|-keyed, map-side combinable. One COUNT
    DISTINCT rides the same aggregate (two-phase under AQE)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    labels = dedup_cluster_keepers(spark, sf_dir)
    joined = d.join(labels, "doc_id", "left")
    dropped = F.sum(
        F.when(
            F.col("keeper_doc_id").isNotNull()
            & (F.col("doc_id") != F.col("keeper_doc_id")),
            1,
        ).otherwise(0)
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("keeper_doc_id").alias("n_in_clusters"),
        dropped.alias("n_dropped"),
        F.round(dropped / F.count(F.lit(1)).cast("double"), 6).alias("drop_frac"),
        F.countDistinct("keeper_doc_id").alias("n_clusters"),
    )


DEDUP_STATS_BY_SOURCE_SQL = f"""
WITH labels AS ({DEDUP_CLUSTER_KEEPERS_SQL})
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(keeper_doc_id) AS n_in_clusters,
       CAST(COALESCE(SUM(CASE WHEN keeper_doc_id IS NOT NULL
                          AND doc_id <> keeper_doc_id THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_dropped,
       {round_sql('SUM(CASE WHEN keeper_doc_id IS NOT NULL AND doc_id <> keeper_doc_id THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)', 6)}
         AS drop_frac,
       COUNT(DISTINCT keeper_doc_id) AS n_clusters
FROM documents LEFT JOIN labels USING (doc_id)
GROUP BY source
"""
