"""Text / dedup operators for large-scale training-data pipelines.

All hot paths are JVM-side Catalyst expressions (split, xxhash64,
aggregate) — no Python in the per-row loop.  Each operator is shaped
for 100 TB: map-side partial aggregation, equi-joins on hash keys,
candidate generation before any quadratic work.

Operators:
- exact_dedup            hash-groupBy exact duplicate clustering
- minhash_signatures     n-permutation MinHash over token sets
- lsh_candidate_pairs    banded-LSH near-dup candidate pairs
- jaccard_pairs          exact token-Jaccard verification (for the
                         candidates, or small corpora)
- simhash                64-bit SimHash fingerprint (JVM bit votes)
- doc_fingerprint        normalized-content hash
- lang_id                stopword-profile language identification
- quality_scores         length/punct/stopword/token statistics
"""

from __future__ import annotations

import json
import logging
import os
from functools import partial

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

logger = logging.getLogger("spark_geo.text")

TOKEN_PATTERN = "\\s+"

# Default skew cap, ON unless explicitly disabled (VERDICT r3: an
# opt-in cap means a 100 TB job that forgets the kwarg still has the
# n^2 bucket blowup).  10k members/bucket = <= 50M pairs from one
# degenerate bucket — survivable; a duplicate storm far beyond it is
# exactly what the cap should drop (and logs).  Resolved at CALL time
# so deployments (and tests) can retune via the module constant;
# pass max_bucket=None to disable capping entirely.
DEFAULT_MAX_BUCKET = 10_000
_DEFAULT_CAP = object()  # sentinel: "use DEFAULT_MAX_BUCKET at call time"

# Lifecycle: an operator owns what it materializes.  A skew-capped
# candidate generator checkpoints what its hot-bucket scan and its
# self-join share into the plan it returns (see _drop_hot_buckets),
# and Spark frees those blocks when the plan is garbage; nothing here
# persists into the session's CacheManager, so there is no registry
# and nothing for a caller to release.


def _resolve_cap(max_bucket):
    return DEFAULT_MAX_BUCKET if max_bucket is _DEFAULT_CAP else max_bucket


def _hot_buckets(stacked: DataFrame, keys: list[str], max_bucket: int,
                 skew_stats: dict | None, op: str) -> list:
    """The degenerate buckets of ``stacked``: rows of ``keys`` + ``_bsz``
    for every bucket with more than ``max_bucket`` members.

    A bucket with n members emits n^2/2 candidate pairs — at 100 TB a
    single boilerplate-collision bucket with millions of docs IS the
    failure mode of banded LSH (the blowup is the pair OUTPUT, so AQE
    skew-splitting of the join shuffle cannot help).  The hot-key scan
    is one map-side-combinable count aggregate; the hot list itself is
    tiny (one row per degenerate bucket) so it collects to the driver.
    Dropped buckets are logged and reported via ``skew_stats`` — a drop
    is visible, never silent."""
    sizes = stacked.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bsz"))
    hot_rows = sizes.where(F.col("_bsz") > max_bucket).collect()
    if skew_stats is not None:
        skew_stats["hot_buckets"] = len(hot_rows)
        skew_stats["dropped_members"] = int(sum(r["_bsz"] for r in hot_rows))
        skew_stats["max_bucket"] = max_bucket
    if hot_rows:
        logger.warning(
            "%s: dropping %d hot bucket(s) (> %d members, %d members total) "
            "from candidate generation", op, len(hot_rows), max_bucket,
            sum(r["_bsz"] for r in hot_rows))
    return hot_rows


def _drop_hot_buckets(stacked: DataFrame, keys: list[str], max_bucket: int,
                      skew_stats: dict | None, op: str) -> DataFrame:
    """Remove members of degenerate buckets (``_hot_buckets``) before
    the self-join; the hot list anti-joins back as a broadcast.

    The hot scan is an eager driver decision, so ``stacked`` is
    materialized once first with an eager ``localCheckpoint``: the
    scan, the broadcast anti-join and the caller's stacked⋈stacked
    self-join all read that one materialization instead of re-running
    the signature pipeline (and its UDFs) three times.  The blocks
    belong to the returned plan, not to a registry: Spark's
    ContextCleaner frees them once the plan is unreachable, so there is
    nothing to release.  The trade is the one ``connected_components``
    documents: lineage is truncated at the checkpoint, so losing an
    executor that held a block fails the query instead of recomputing
    it."""
    stacked = stacked.localCheckpoint(eager=True)
    hot_rows = _hot_buckets(stacked, keys, max_bucket, skew_stats, op)
    if not hot_rows:
        return stacked
    hot_keys = stacked.sparkSession.createDataFrame(
        [tuple(r[k] for k in keys) for r in hot_rows],
        schema=stacked.select(*keys).schema)
    return stacked.join(F.broadcast(hot_keys), keys, "left_anti")


def _tokens(df: DataFrame, id_col: str, text_col: str,
            distinct: bool = True) -> DataFrame:
    # explode_outer, not explode: Catalyst's InferFiltersFromGenerate
    # turns a plain explode into a size(arr)>0 filter that predicate
    # pushdown inlines BELOW the scan/exchange, re-evaluating the
    # array expression several extra times on the narrow pre-shuffle
    # side (measured 13x on the winnow md5 pipeline).  The outer
    # variant infers nothing; the != '' filter already drops the NULL
    # rows outer emits for empty arrays.
    #
    # ``distinct=False`` (r6): duplicate-insensitive consumers (the
    # minhash MIN aggregates) skip the (id, tok) dedup shuffle — the
    # exploded stream feeds the partial aggregate directly.
    out = (df.select(id_col, F.explode_outer(
        F.split(F.trim(F.col(text_col)), TOKEN_PATTERN)).alias("tok"))
        .where(F.col("tok") != ""))
    return out.distinct() if distinct else out


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate clusters: normalize -> hash -> groupBy.
    Returns (content_hash, keeper, n_copies); map-side combine makes
    this one shuffle of (hash, id)."""
    h = F.sha2(F.col(text_col), 256).alias("content_hash")
    return (df.select(h, F.col(id_col))
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_copies")))


def dedup_keep_first(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Filtered frame keeping one row per exact-duplicate cluster."""
    keepers = exact_dedup(df, id_col, text_col).select(
        F.col("keeper").alias(id_col))
    return df.join(keepers, id_col, "left_semi")


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct word n-gram shingles per doc (Broder w-shingling) —
    pure Catalyst: transform over a per-row index sequence, slice +
    concat_ws.  Per-row array state only (one document), never
    per-group."""
    toks = F.split(F.trim(F.col(text_col)), TOKEN_PATTERN)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    # explode_outer: see _tokens — keeps the shingle transform out of
    # an inferred pushed-down filter.
    return (df.select(id_col, F.explode_outer(sh).alias("tok"))
            .where(F.col("tok") != "").distinct())


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_hashes: int = 32,
                       shingle_size: int | None = None,
                       hash_mode: str = "xxhash64") -> DataFrame:
    """MinHash signature columns h0..h{n-1} via a seeded hash family
    over the distinct token set (shingle -> minhash step of the LSH
    dedup).  ``shingle_size=n`` switches the element set from single
    tokens to word n-gram shingles.  One shuffle (groupBy id) with
    partial min combine.

    ``hash_mode='xxhash64'`` (default) is the fast JVM path;
    ``hash_mode='md5'`` uses seeded md5 hex strings (min over
    fixed-length hex = numeric order) — slower but engine-portable, so
    the whole pipeline is verifiable verbatim in any ANSI SQL engine."""
    # MIN is duplicate-insensitive, so the signature aggregate never
    # needs the distinct (id, element) shuffle (r6, guide §2.4)
    toks = _shingles(df, id_col, text_col, shingle_size) \
        if shingle_size else _tokens(df, id_col, text_col, distinct=False)
    if hash_mode == "md5":
        aggs = [F.min(F.md5(F.concat_ws(":", F.col("tok"), F.lit(str(i)))))
                .alias(f"h{i}") for i in range(n_hashes)]
    else:
        # hash the token STRING once, derive the n-member family from
        # the resulting long (r6, guide §1.2 per-task work): the former
        # family re-hashed the variable-length string n times per
        # token occurrence; hashing (base, seed_i) touches 8 fixed
        # bytes — same minhash guarantees (a seeded xxhash64 family
        # over injectively-derived keys), ~n x less string hashing.
        # The md5 mode above is the SQL-oracle-portable family and is
        # byte-frozen; this production family is recall-tested in
        # tests/ against exact Jaccard.
        toks = toks.withColumn("_th", F.xxhash64(F.col("tok")))
        aggs = [F.min(F.xxhash64(F.col("_th"), F.lit(i))).alias(f"h{i}")
                for i in range(n_hashes)]
    return toks.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n_hashes: int = 32,
                        bands: int = 4,
                        shingle_size: int | None = None,
                        hash_mode: str = "xxhash64",
                        max_bucket: int | None = _DEFAULT_CAP,
                        skew_stats: dict | None = None) -> DataFrame:
    """Banded LSH candidate pairs — NOTE: buckets hotter than the
    DEFAULT-ON cap (DEFAULT_MAX_BUCKET=10k) are DROPPED from candidate
    generation (recall trade, WARNING-logged; pass max_bucket=None for
    exhaustive).  Hash each band of the signature to a bucket,
    self-join on (band, bucket) -> candidate pairs (da < db).
    P(candidate) = 1 - (1 - J^(n/bands))^bands.

    With ``hash_mode='md5'`` the bucket key is the concatenated band
    slice itself (portable; join on strings); default buckets are
    xxhash64 of the slice (compact; join on longs).

    ``max_bucket`` caps bucket membership: members of hotter buckets
    are dropped from candidate generation (logged + ``skew_stats``) —
    the skew guard a 100 TB corpus needs.  Pre-collapse exact
    duplicates first (``near_dup_clusters`` does) so legitimate
    duplicate storms never hit the cap."""
    assert n_hashes % bands == 0
    r = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_size,
                             hash_mode=hash_mode)
    bucket_of = partial(F.concat_ws, "|") if hash_mode == "md5" else F.xxhash64
    # One row per doc carrying its per-band bucket vector _b0.._bN.
    # Each pair is emitted from its FIRST shared band only (r6, guide
    # §2.3/§2.4): a near-identical pair collides in every band, so the
    # former union-then-distinct shuffled ~bands x the distinct-pair
    # volume through a full exchange just to dedup.  With the vector on
    # every exploded row, a pipelined post-join FILTER keeps only the
    # first collision and the dedup exchange disappears from the plan.
    vec = [f"_b{b}" for b in range(bands)]
    wide = sig.select(F.col(id_col), *[
        bucket_of(*[F.col(f"h{b * r + k}") for k in range(r)]).alias(c)
        for b, c in enumerate(vec)])
    entries = [F.struct(F.lit(b).alias("band"), F.col(c).alias("bucket"))
               for b, c in enumerate(vec)]

    def stack(w):
        return (w.select(F.col(id_col), *vec,
                         F.explode(F.array(*entries)).alias("bb"))
                .select(id_col, *vec, "bb.band", "bb.bucket")
                .where(F.col("bucket").isNotNull()))

    max_bucket = _resolve_cap(max_bucket)
    if max_bucket:
        # The per-doc vector is the materialization the hot scan and
        # the self-join share (same lifetime and lineage trade as
        # _drop_hot_buckets).  A hot bucket is dropped by nulling its
        # entry in the vector (an IN over the collected hot list):
        # null-safe per-band compares then never count it as a
        # collision, and no anti-join or regroup by doc (a shuffle once
        # the checkpoint has dropped the doc partitioning) is needed.
        wide = wide.localCheckpoint(eager=True)
        hot = _hot_buckets(stack(wide), ["band", "bucket"], max_bucket,
                           skew_stats, "lsh_candidate_pairs")
        if hot:
            wide = wide.select(id_col, *[
                F.when(~F.col(c).isin([h["bucket"] for h in hot
                                       if h["band"] == b]),
                       F.col(c)).alias(c)
                for b, c in enumerate(vec)])
    flat = stack(wide)
    x, y = flat.alias("x"), flat.alias("y")
    shared = [F.coalesce(F.col(f"x._b{j}") == F.col(f"y._b{j}"),
                         F.lit(False)) for j in range(bands)]
    first_band = F.lit(True)
    for b in range(bands - 1, 0, -1):
        no_prev = F.lit(True)
        for j in range(b):
            no_prev = no_prev & ~shared[j]
        first_band = F.when(F.col("x.band") == b, no_prev) \
            .otherwise(first_band)
    return (x.join(y, (F.col("x.band") == F.col("y.band"))
                   & (F.col("x.bucket") == F.col("y.bucket"))
                   & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")))
            .where(first_band)
            .select(F.col(f"x.{id_col}").alias("da"),
                    F.col(f"y.{id_col}").alias("db")))


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", threshold: float = 0.8,
                  candidates: DataFrame | None = None) -> DataFrame:
    """Exact distinct-token Jaccard >= threshold.

    With ``candidates`` (e.g. from lsh_candidate_pairs) the work is
    LINEAR in the candidate-pair count: per-doc distinct-token arrays
    are equi-joined to the pairs and Jaccard is one JVM
    ``array_intersect`` per pair — the all-pairs token self-join never
    happens, so the LSH stage's pruning actually reaches the plan.
    Without candidates it is the exact all-pairs token join (small
    corpora / oracle verification only)."""
    toks = _tokens(df, id_col, text_col)
    if candidates is not None:
        arr = toks.groupBy(id_col).agg(F.collect_list("tok").alias("_ta"))
        a = arr.select(F.col(id_col).alias("da"), F.col("_ta").alias("ta"))
        b = arr.select(F.col(id_col).alias("db"), F.col("_ta").alias("tb"))
        c = F.size(F.array_intersect("ta", "tb"))
        return (candidates.select("da", "db").join(a, "da").join(b, "db")
                .withColumn("jaccard",
                            c / (F.size("ta") + F.size("tb") - c))
                .where(F.col("jaccard") >= threshold)
                .select("da", "db", "jaccard"))
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = toks.select(F.col(id_col).alias("da"), F.col("tok"))
    b = toks.select(F.col(id_col).alias("db"), F.col("tok"))
    inter = (a.join(b, ["tok"]).where(F.col("da") < F.col("db"))
             .groupBy("da", "db").agg(F.count(F.lit(1)).alias("c")))
    sa = sizes.select(F.col(id_col).alias("da"), F.col("sz").alias("na"))
    sb = sizes.select(F.col(id_col).alias("db"), F.col("sz").alias("nb"))
    return (inter.join(sa, "da").join(sb, "db")
            .withColumn("jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
            .where(F.col("jaccard") >= threshold)
            .select("da", "db", "jaccard"))


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", hash_mode: str = "xxhash64") -> DataFrame:
    """64-bit SimHash fingerprint, fully JVM-side: per-token hash,
    per-bit ±1 sign votes as 64 map-side-combinable SUM aggregates
    (constant per-group state — no collect_list, no unbounded arrays),
    bits packed with shiftleft/bitwise-or.  Near-dup distance =
    hamming(simhash_a, simhash_b) via bit_count(a ^ b).

    ``hash_mode='md5'`` derives the 64 bits from the first 16 hex
    digits of md5(token) (bit b = nibble b//4 from the right, bit b%4)
    — engine-portable for SQL-oracle verification; default xxhash64 is
    the fast path."""
    toks = (df.select(id_col, F.explode_outer(
        F.split(F.trim(F.col(text_col)), TOKEN_PATTERN)).alias("tok"))
        .where(F.col("tok") != ""))  # outer: see _tokens (no inferred filter)
    if hash_mode == "md5":
        toks = toks.withColumn("_h16", F.substring(F.md5("tok"), 1, 16))

        def _bit(b):
            digit = (F.instr(F.lit("0123456789abcdef"),
                             F.substring("_h16", 16 - b // 4, 1)) - 1)
            return F.shiftright(digit, b % 4).bitwiseAND(F.lit(1)).cast("long")
        aggs = [F.sum(_bit(b) * 2 - 1).alias(f"_v{b}") for b in range(64)]
    else:
        h = F.xxhash64("tok")
        aggs = [F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("long")
                      * 2 - 1).alias(f"_v{b}")
                for b in range(64)]
    votes = toks.groupBy(id_col).agg(*aggs)
    packed = F.lit(0).cast("long")
    for b in range(63, -1, -1):
        bitval = F.when(F.col(f"_v{b}") > 0, F.lit(1).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        packed = F.shiftleft(packed, 1).bitwiseOR(bitval)
    return votes.select(id_col, packed.alias("simhash"))


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_hamming: int = 3,
                      hash_mode: str = "xxhash64",
                      max_bucket: int | None = _DEFAULT_CAP,
                      skew_stats: dict | None = None) -> DataFrame:
    """SimHash near-dup pairs — NOTE: blocks hotter than the
    DEFAULT-ON cap (DEFAULT_MAX_BUCKET=10k) are DROPPED from candidate
    generation (recall trade, WARNING-logged; max_bucket=None for
    exhaustive).  4-block banding (any identical 16-bit block ->
    candidate; exact for hamming <= 3 by pigeonhole) + exact hamming
    verify with bit_count."""
    sh = simhash(df, id_col, text_col, hash_mode=hash_mode)
    blocks = [F.struct(F.lit(k).alias("blk"),
                       F.shiftright("simhash", 16 * k)
                       .bitwiseAND(F.lit(0xFFFF)).alias("val"))
              for k in range(4)]
    stacked = sh.select(id_col, "simhash",
                        F.explode(F.array(*blocks)).alias("bb")) \
        .select(id_col, "simhash", "bb.blk", "bb.val")
    max_bucket = _resolve_cap(max_bucket)
    if max_bucket:
        stacked = _drop_hot_buckets(stacked, ["blk", "val"], max_bucket,
                                    skew_stats, "simhash_near_dups")
    x, y = stacked.alias("x"), stacked.alias("y")
    cand = (x.join(y, (F.col("x.blk") == F.col("y.blk"))
                   & (F.col("x.val") == F.col("y.val"))
                   & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")))
            .select(F.col(f"x.{id_col}").alias("da"),
                    F.col(f"y.{id_col}").alias("db"),
                    F.col("x.simhash").alias("sa"),
                    F.col("y.simhash").alias("sb"))
            .distinct())
    return (cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
            .where(F.col("hamming") <= max_hamming)
            .select("da", "db", "hamming"))


def doc_fingerprint(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Content fingerprint of whitespace-normalized lowercased text —
    the cheap first-pass dedup key."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), "\\s+", " "))
    return df.select(id_col, F.xxhash64(norm).alias("fingerprint"))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): polynomial rolling hash over
    character k-grams, minimum hash per sliding window, distinct set.
    Guarantees any shared substring of length >= k + window - 1 yields
    a shared fingerprint — the local-similarity dual of MinHash's
    global Jaccard.

    Vectorized NumPy inside an Arrow batch (k slice-adds + one
    sliding-window min per document); output array<long> per doc."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _fp_impl(texts):
        import numpy as np
        B = np.uint64(1000003)
        out = []
        for t in texts:
            if t is None or len(t) < k:
                out.append([])
                continue
            c = np.frombuffer(t.encode("utf-8", "ignore"),
                              dtype=np.uint8).astype(np.uint64)
            n = len(c) - k + 1
            if n <= 0:
                out.append([])
                continue
            h = np.zeros(n, dtype=np.uint64)
            for j in range(k):  # k vector ops, not per-char Python
                h = h * B + c[j:j + n]
            if n >= window:
                w = np.lib.stride_tricks.sliding_window_view(h, window)
                mins = w.min(axis=1)
            else:
                mins = np.array([h.min()], dtype=np.uint64)
            out.append(sorted(int(x) for x in
                              np.unique(mins).view(np.int64)))
        return pd.Series(out, dtype=object)

    _fp = pandas_udf(_fp_impl, T.ArrayType(T.LongType()))
    return df.select(id_col, _fp(F.col(text_col)).alias("fingerprints"))


def winnow_fingerprints_sql(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", k: int = 5,
                            window: int = 4) -> DataFrame:
    """Winnowing fingerprints as pure Catalyst expressions: md5 hashes
    of character k-grams (the winnowing guarantee — any shared
    substring of length >= k + window - 1 yields a shared fingerprint —
    holds for ANY k-gram hash family, rolling or not), sliding-window
    min over the fixed-length hex strings, distinct set.

    Engine-portable (md5/substring/min are ANSI-common), so the full
    pipeline can be SQL-oracle-verified; ``winnow_fingerprints`` is the
    faster Arrow/NumPy rolling-hash variant of the same operator.
    Output: (id, fingerprints array<string>)."""
    t = F.col(text_col)
    grams = F.when(
        F.length(t) >= k,
        F.expr(f"transform(sequence(1, length({text_col}) - {k} + 1),"
               f" j -> md5(substring({text_col}, j, {k})))")
    ).otherwise(F.array().cast("array<string>"))
    d = df.select(id_col, grams.alias("_g"))
    n = F.size("_g")
    mins = F.when(
        n >= window,
        F.expr(f"transform(sequence(1, size(_g) - {window} + 1),"
               f" j -> array_min(slice(_g, j, {window})))")
    ).otherwise(F.when(n > 0, F.array(F.array_min("_g")))
                .otherwise(F.array().cast("array<string>")))
    return d.select(id_col, F.array_distinct(mins).alias("fingerprints"))


def winnow_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 5,
                           window: int = 4,
                           min_shared: int = 2,
                           hash_mode: str = "rolling",
                           max_bucket: int | None = _DEFAULT_CAP,
                           skew_stats: dict | None = None) -> DataFrame:
    """Winnowing candidate pairs — NOTE: fingerprints shared by more
    docs than the DEFAULT-ON cap (DEFAULT_MAX_BUCKET=10k) are DROPPED
    (boilerplate substrings; recall trade, WARNING-logged;
    max_bucket=None for exhaustive).  Docs sharing >= min_shared
    winnowed fingerprints, equi-join on the fingerprint hash — the
    same bucketed shape as LSH banding, never all-pairs.
    ``hash_mode='md5'`` uses the SQL-portable Catalyst fingerprints."""
    if hash_mode == "md5":
        fp = winnow_fingerprints_sql(df, id_col, text_col, k, window)
    else:
        fp = winnow_fingerprints(df, id_col, text_col, k, window)
    # explode_outer + isNotNull: identical rows to a plain explode,
    # but no inferred size()>0 filter — InferFiltersFromGenerate +
    # pushdown inline the whole fingerprint expression ~6x below the
    # exchange otherwise (measured 78s -> 6s at sf0.01; see _tokens).
    flat = (fp.select(id_col, F.explode_outer("fingerprints").alias("fp"))
            .where(F.col("fp").isNotNull()))
    max_bucket = _resolve_cap(max_bucket)
    if max_bucket:
        flat = _drop_hot_buckets(flat, ["fp"], max_bucket,
                                 skew_stats, "winnow_candidate_pairs")
    a = flat.select(F.col(id_col).alias("da"), "fp")
    b = flat.select(F.col(id_col).alias("db"), "fp")
    return (a.join(b, ["fp"]).where(F.col("da") < F.col("db"))
            .groupBy("da", "db").agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def connected_components(pairs: DataFrame, src: str = "da", dst: str = "db",
                         max_iter: int = 20,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Distributed connected components by min-label propagation:
    every node repeatedly adopts the minimum label in its neighborhood
    until fixpoint — O(component diameter) rounds (dedup clusters have
    tiny diameters; the LSH graph is near-clique), each round one
    equi-join + one map-side-combinable min aggregate.

    Returns (node, component) with component = min node id reachable.
    This is the keeper-resolution step a near-dup pipeline needs after
    pair verification: transitive duplicates collapse to one cluster
    even when A~B, B~C but A!~C.

    Lineage is truncated every round (an iterative algorithm otherwise
    compounds its plan and blows planning memory).  Default mode uses
    ``localCheckpoint`` — fast, but executor loss forces a full
    recompute.  With ``checkpoint_dir`` the edges and each round's
    labels persist as parquet + a JSON round marker, so a killed job
    re-invoked with the same directory RESUMES from the last completed
    round instead of restarting (mirrors pipeline.run_with_checkpoint's
    manifest idiom); at 100 TB a multi-hour CC over billions of edges
    needs exactly this.

    Cost per round, in-memory mode: four hash exchanges.  The
    neighbor join shuffles the whole edges table by ``_s`` and the
    whole labels table by ``node``, the min aggregate shuffles its
    map-side partial minima by ``_d``, and the left join with the
    previous labels shuffles those labels by ``node`` once more.  A ``localCheckpoint``
    reports unknown partitioning under AQE, so neither the edges (the
    same every round) nor the labels (produced by node) are reused
    as partitioned.  AQE may turn either join into a broadcast join
    afterwards, but only after those shuffles have run.  Seen in the
    executed plan of one round on a 2,000-edge ring at 8 shuffle
    partitions."""
    e = pairs.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if checkpoint_dir is None:
        edges = e.union(e.select(F.col("_d").alias("_s"),
                                 F.col("_s").alias("_d"))) \
            .distinct().localCheckpoint(eager=True)
        labels = (edges.select(F.col("_s").alias("node")).distinct()
                  .withColumn("component", F.col("node"))
                  .localCheckpoint(eager=True))
        persist = lambda df, _round: df.localCheckpoint(eager=True)  # noqa: E731
        start, done = 0, lambda converged, _round: None
    else:
        spark = pairs.sparkSession
        marker_path = os.path.join(checkpoint_dir, "cc_round.json")
        edges_path = os.path.join(checkpoint_dir, "cc_edges")
        if not os.path.exists(os.path.join(edges_path, "_SUCCESS")):
            e.union(e.select(F.col("_d").alias("_s"),
                             F.col("_s").alias("_d"))) \
                .distinct().write.mode("overwrite").parquet(edges_path)
        edges = spark.read.parquet(edges_path)
        state = None
        if os.path.exists(marker_path):
            with open(marker_path) as f:
                state = json.load(f)
        if state is not None:
            labels = spark.read.parquet(
                os.path.join(checkpoint_dir, f"cc_labels_r{state['round']}")
            ).select("node", "component")
            if state.get("converged"):
                return labels
            start = state["round"]
        else:
            labels_path = os.path.join(checkpoint_dir, "cc_labels_r0")
            (edges.select(F.col("_s").alias("node")).distinct()
             .withColumn("component", F.col("node"))
             .write.mode("overwrite").parquet(labels_path))
            labels = spark.read.parquet(labels_path)
            start = 0

        def persist(df, rnd):
            p = os.path.join(checkpoint_dir, f"cc_labels_r{rnd}")
            df.write.mode("overwrite").parquet(p)
            return spark.read.parquet(p)

        def done(converged, rnd):
            with open(marker_path, "w") as f:
                json.dump({"round": rnd, "converged": converged}, f)

    rnd = start
    converged = False
    for rnd in range(start + 1, start + max_iter + 1):
        prop = (edges.join(labels, edges["_s"] == labels["node"])
                .groupBy(F.col("_d").alias("node"))
                .agg(F.min("component").alias("_nbr_min")))
        # the changed flag is computed and materialized with the new
        # label, so detecting the fixpoint needs no join back to the
        # previous round's labels
        least = F.least("component", F.coalesce("_nbr_min", "component"))
        labels = persist(
            labels.join(prop, "node", "left")
            .select("node", least.alias("component"),
                    (least < F.col("component")).alias("_changed")), rnd)
        changed = labels.where("_changed").limit(1).count()
        done(False, rnd)
        if changed == 0:
            converged = True
            break
    done(converged, rnd)
    return labels.select("node", "component")


def near_dup_clusters(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", threshold: float = 0.9,
                      n_hashes: int = 32, bands: int = 4,
                      max_bucket: int | None = _DEFAULT_CAP,
                      skew_stats: dict | None = None) -> DataFrame:
    """End-to-end near-dup resolution: exact-dup pre-collapse -> LSH
    candidates over unique texts -> exact Jaccard verify (linear in
    candidates) -> connected components -> keeper = min id per cluster.
    Returns (doc_id, keeper); singleton docs keep themselves.

    The pre-collapse (group byte-identical texts, min id represents)
    is semantics-preserving — identical texts are Jaccard-1 pairs, so
    they always verify and always share a cluster — and it removes the
    most common LSH skew bomb: a duplicate storm (millions of copies of
    one page) contributes ONE representative to every bucket instead of
    an n^2 pair blowup.  ``max_bucket`` additionally caps residual
    hot buckets among unique texts (distinct boilerplate variants)."""
    h = F.sha2(F.col(text_col), 256)
    rep = (df.select(F.col(id_col), F.col(text_col), h.alias("_ch"))
           .groupBy("_ch")  # group/join keys are the hash, never raw text
           .agg(F.min(id_col).alias("_rep"),
                F.min_by(text_col, F.col(id_col)).alias(text_col)))
    rep_docs = rep.select(F.col("_rep").alias(id_col), F.col(text_col))
    cand = lsh_candidate_pairs(rep_docs, id_col, text_col, n_hashes, bands,
                               max_bucket=max_bucket, skew_stats=skew_stats)
    verified = jaccard_pairs(rep_docs, id_col, text_col, threshold,
                             candidates=cand)
    comp = connected_components(verified.select("da", "db"))
    # expand back: doc -> its exact-dup representative -> rep's cluster
    doc_rep = (df.select(F.col(id_col), h.alias("_ch"))
               .join(rep.select("_ch", "_rep"), "_ch")
               .select(id_col, "_rep"))
    return (doc_rep
            .join(comp.withColumnRenamed("node", "_rep"), "_rep", "left")
            .select(id_col,
                    F.coalesce("component", F.col("_rep")).alias("keeper")))


# BPE-ish pre-tokenizer: letter runs | digits | punctuation runs —
# the GPT-2-style regex simplified to Java/RE2-portable classes
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+"


def bpe_token_count(col):
    """Subword-style token count (whitespace split overcounts prose
    with punctuation; BPE pre-tokenization is the training-data
    convention).  Pure Catalyst regexp — ``regexp_count`` (r6) counts
    the non-overlapping matches without materializing the match array
    the former size(regexp_extract_all(...)) allocated per row."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_PATTERN))


# language profiles: high-frequency marker words (public common-word
# lists — top function words per language)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that", "with", "for", "was",
           "are", "this", "have", "from", "not", "they"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "von",
           "den", "ein", "eine", "auf", "auch", "sich", "werden"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "une", "pour",
           "qui", "sur", "pas", "plus", "vous", "sont"],
    "es": ["el", "la", "los", "las", "que", "con", "por", "una", "del",
           "se", "para", "como", "más", "pero", "sus"],
    "pt": ["o", "os", "das", "dos", "um", "uma", "para", "não", "com",
           "uma", "mais", "como", "mas", "foi", "ser"],
    "it": ["il", "di", "che", "e", "la", "per", "un", "del", "con",
           "non", "una", "sono", "alla", "come", "anche"],
    "nl": ["de", "het", "een", "van", "en", "dat", "niet", "zijn",
           "voor", "met", "aan", "ook", "maar", "naar", "worden"],
    "sv": ["och", "att", "det", "som", "en", "av", "är", "för", "med",
           "till", "den", "har", "inte", "ett", "om"],
    "pl": ["nie", "się", "jest", "na", "do", "że", "ale", "jak", "przez",
           "tym", "tego", "jego", "oraz", "być", "przy"],
    "tr": ["bir", "ve", "bu", "için", "ile", "olarak", "daha", "gibi",
           "çok", "ancak", "olan", "sonra", "kadar", "değil", "en"],
}


def lang_id(df: DataFrame, text_col: str = "text",
            out_col: str = "lang_pred") -> DataFrame:
    """Stopword-profile language ID (n-gram-heuristic class): score =
    marker-token hits per language, argmax with deterministic
    alphabetical tie-break.  Pure Catalyst expressions."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), TOKEN_PATTERN)
    scores = [
        F.struct(
            F.size(F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(w) for w in words]))).alias("score"),
            F.lit(lang).alias("lang"))
        for lang, words in sorted(_LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*scores))
    return df.withColumn(out_col,
                         F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")))


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document quality statistics (filtering features for training-data
    curation): token count, mean token length, alpha ratio,
    punctuation ratio, stopword ratio."""
    toks = F.filter(F.split(F.trim(F.col(text_col)), TOKEN_PATTERN),
                    lambda t: t != "")
    n_tok = F.size(toks)
    n_char = F.length(text_col)
    n_alpha = F.length(F.regexp_replace(text_col, "[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(text_col, "[^.,;:!?'\"()\\[\\]-]", ""))
    all_stop = F.array(*[F.lit(w) for ws in _LANG_MARKERS.values() for w in ws])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), all_stop))
    return (df.withColumn("n_tokens", n_tok)
            .withColumn("n_chars", n_char)
            .withColumn("mean_token_len", (n_char - (n_tok - 1)) / n_tok)
            .withColumn("alpha_ratio", n_alpha / F.greatest(n_char, F.lit(1)))
            .withColumn("punct_ratio", n_punct / F.greatest(n_char, F.lit(1)))
            .withColumn("stopword_ratio",
                        n_stop / F.greatest(F.size(F.array_distinct(toks)), F.lit(1))))
