"""X1/X2 — deduplication operators for training-data pipelines.

Five strategies, all shuffle-frugal and driver-free:

- :func:`exact_dedup` — hash group-by on the key columns (one shuffle).
- :func:`normalized_dedup` — exact dedup on an md5 fingerprint of
  normalized text (whitespace/case-insensitive).
- :func:`minhash_dedup` — MinHash over word shingles + LSH banding:
  shingle → 64-perm signature → b bands → bucket self-join → exact
  Jaccard verify. Candidate generation touches only same-bucket pairs, so
  the join is |bucket|²-bounded, not |corpus|².
- :func:`simhash_dedup` — 64-bit SimHash + pigeonhole chunk blocking
  (hamming ≤ h pairs must share ≥1 of h+1 chunks) + exact hamming verify
  via xor/bit_count.
- :func:`embedding_dedup` — random-hyperplane sign-LSH buckets over an
  embedding column + exact cosine verify.

Dedup semantics (all strategies): **keep the smallest-id document of each
duplicate group found**; a doc is dropped iff a verified duplicate with a
smaller id exists. This greedy one-pass rule is deterministic, needs no
iterative connected-components, and is the standard choice in large-scale
corpus dedup. (A full union-find would need an iterative join loop; the
greedy rule differs only on chains A~B~C where A!~C.)

Everything is built-in Catalyst expressions — signatures, banding, and
verification all run inside whole-stage codegen; no Python UDFs.
"""

from __future__ import annotations

import random
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from streaming_data_pipeline_azure_spark.functions.localdf import local_rows_df

from streaming_data_pipeline_azure_spark.functions.cache import persist_tracked
from streaming_data_pipeline_azure_spark.functions.generations import (
    GenerationalDir,
    TombstoneSet,
)
from streaming_data_pipeline_azure_spark.functions.vector import (
    cosine_similarity,
    to_double_array,
)
from streaming_data_pipeline_azure_spark.operators.corpus import _norm_tokens
from streaming_data_pipeline_azure_spark.operators.text import (
    fingerprint,
    normalized_text,
)


def exact_dedup(df: DataFrame, keys: list[str], tiebreaker: str) -> DataFrame:
    """X1 — exact dedup: keep the row with the smallest ``tiebreaker`` per
    distinct ``keys`` combination. One hash shuffle on ``keys``; map-side
    partial aggregation collapses duplicates before the exchange, so
    shuffle volume is O(distinct keys), not O(rows)."""
    others = [c for c in df.columns if c not in keys]
    return (
        df.groupBy(*keys)
        .agg(F.min_by(F.struct(*others), F.col(tiebreaker)).alias("__v"))
        .select(*keys, *[F.col(f"__v.{c}").alias(c) for c in others])
    )


def normalized_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint (case/whitespace
    insensitive). The md5 fingerprint (16 bytes) shuffles instead of the
    full document body — at 100 TB that is the difference between
    shuffling the corpus and shuffling 1% of it."""
    with_fp = df.withColumn("__fp", fingerprint(text_col))
    deduped = exact_dedup(with_fp, ["__fp"], id_col)
    return deduped.drop("__fp")


def keep_best_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    score_col: str,
    with_group_size: bool = False,
) -> DataFrame:
    """Quality-aware canonical selection: :func:`normalized_dedup`
    where the survivor of each duplicate group is the HIGHEST-
    ``score_col`` member (tie: smallest numeric ``id_col``) — the
    "keep the best copy" policy real corpus pipelines use (longest
    text, highest quality score, freshest crawl) instead of
    keep-first.

    Same scale shape as exact dedup: ONE hash shuffle on the 16-byte
    normalized fingerprint with a ``max_by`` partial aggregation — the
    map-side combine collapses duplicates before the exchange, so
    shuffle volume is O(distinct fingerprints) rows of (fingerprint,
    best-so-far struct), never the corpus. ``with_group_size`` adds an
    ``n_dups`` column (the group's member count)."""
    with_fp = df.withColumn("__fp", fingerprint(text_col))
    others = [c for c in df.columns]
    g = with_fp.groupBy("__fp").agg(
        F.max_by(
            F.struct(*others),
            F.struct(
                F.col(score_col), (-F.col(id_col)).cast("long")
            ),
        ).alias("__v"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
    )
    out = g.select(
        *[F.col(f"__v.{c}").alias(c) for c in others], "n_dups"
    )
    return out if with_group_size else out.drop("n_dups")


def incremental_dedup(
    new_batch: DataFrame, corpus: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Dedup an incoming batch against an existing corpus, then within
    itself — the standard training-data ingestion shape (a crawl delta
    lands against petabytes already ingested; re-dedup-ing the union
    from scratch would rescan the world per delta).

    A new document survives iff its normalized fingerprint (1) does not
    already exist in the corpus and (2) is held by the batch's min-id
    row. The corpus side reduces to DISTINCT 16-byte fingerprints before
    the anti-join, so the join shuffles hashes, not bodies, and the
    corpus fingerprint set is the natural thing to keep materialized
    between deltas (it IS the dedup index)."""
    corpus_fp = corpus.select(fingerprint(text_col).alias("__fp")).distinct()
    batch_fp = new_batch.withColumn("__fp", fingerprint(text_col))
    fresh = batch_fp.join(corpus_fp, "__fp", "left_anti")
    return exact_dedup(fresh, ["__fp"], id_col).drop("__fp")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def _parse_bytes(conf_val: str) -> int:
    """Parse a Spark byte-size conf value ("134217728b", "128m", "1g")."""
    import re as _re

    m = _re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", conf_val.strip().lower())
    if not m:
        return 128 * 1024 * 1024
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
            "t": 1 << 40, "p": 1 << 50}[m.group(2)]
    return int(m.group(1)) * mult


#: Block-compression codec extensions Spark cannot split: a file carrying
#: one of these scans as exactly one task regardless of size. (bzip2 IS
#: splittable but is rare enough that the one-task assumption only errs
#: toward a harmless extra repartition.)
_MONOLITHIC_EXTS = (".gz", ".zst", ".lz4", ".snappy", ".deflate", ".zip", ".bz2")


def _is_splittable_file(path: str) -> bool:
    """True when the scan can split the file into byte-range tasks.

    Parquet/ORC split on internal row-group/stripe boundaries whatever
    their internal codec (``part-*.snappy.parquet`` ends in ``.parquet``);
    plain text splits on line boundaries; text behind a block codec
    extension does not split at all."""
    low = path.lower()
    if low.endswith((".parquet", ".orc")):
        return True
    return not low.endswith(_MONOLITHIC_EXTS)


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy stages.

    Local single-file parquet arrives as 1 partition — signature hashing
    would run on one core. At real scale inputs already have >= cores
    partitions, so this is a no-op there (we never shuffle a wide corpus
    just to rebalance). Parallelism is estimated from scan metadata (file
    listing + sizes, no job) rather than ``df.rdd`` (VERDICT r1 minor #3:
    that forces a DataFrame->RDD conversion plan per call).

    Parquet/ORC are SPLITTABLE, so file COUNT under-counts scan
    parallelism for a corpus stored as a few large files (ADVICE r2/r3):
    the scan actually yields ~total_bytes / maxPartitionBytes tasks. We
    therefore repartition only when BOTH the file count and the estimated
    split count fall short of cores — a 4-file × 10 GB corpus is left
    alone (the scan already parallelizes), while a 1-file × 200 KB test
    fixture takes the spread. The byte estimate counts only SPLITTABLE
    files (parquet/orc, or text without a block-compression codec
    extension): a few large .json.gz files yield one task each no matter
    their size (ADVICE r4), so they count toward the file total, not the
    split total. Non-file-backed inputs (in-memory test frames) take the
    repartition as before."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) >= target:
        return df
    if files:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        splittable_bytes = 0
        n_monolithic = 0
        for f in files:  # bounded: len(files) < target RPCs
            if _is_splittable_file(f):
                p = jvm.org.apache.hadoop.fs.Path(f)
                splittable_bytes += (
                    p.getFileSystem(hconf).getFileStatus(p).getLen()
                )
            else:
                n_monolithic += 1
        split = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        if splittable_bytes // max(split, 1) + n_monolithic >= target:
            return df  # splittable scan already yields >= cores tasks
    return df.repartition(target)


def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text. Short docs
    (< n tokens) contribute their whole text as one shingle."""
    toks = F.split(normalized_text(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


def char_shingles(text_col: Column | str, n: int = 5) -> Column:
    """Distinct character n-gram shingles of normalized text."""
    norm = normalized_text(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
        lambda i: F.substring(norm, i, n),
    )
    return F.array_distinct(grams)


def exploded_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int, kind: str = "word"
) -> DataFrame:
    """(id, text) → exploded (id, __h) rows: one xxhash64 long per
    position-distinct shingle, entirely in whole-stage codegen.

    The array-building shingle functions (:func:`word_shingles` /
    :func:`char_shingles`) run their per-element lambdas interpreted —
    fine for ad-hoc column use, but in the dedup hot path this explode +
    column-expression form (``substring``/``slice`` with a column
    position) keeps the 10^6-shingle stage inside codegen."""
    norm = normalized_text(text_col)
    if kind == "word":
        base = df.select(F.col(id_col), F.split(norm, " ").alias("__base"))
        count = F.greatest(F.size(F.col("__base")) - (n - 1), F.lit(1))
        gram = F.expr(f"concat_ws(' ', slice(__base, __i, {n}))")
    else:
        base = df.select(F.col(id_col), norm.alias("__base"))
        count = F.greatest(F.length(F.col("__base")) - (n - 1), F.lit(1))
        gram = F.expr(f"substring(__base, __i, {n})")
    pos = base.select(
        F.col(id_col),
        "__base",
        F.explode(F.sequence(F.lit(1), count)).alias("__i"),
    )
    return pos.select(F.col(id_col), F.xxhash64(gram).alias("__h"))


def minhash_signatures_table(
    shingled: DataFrame, id_col: str, shingle_col: str, num_perm: int = 64
) -> DataFrame:
    """(id, shingle array) → (id, __sig array<long>) via the codegen path:

    explode shingles → ONE ``xxhash64`` of the shingle string → num_perm
    derived permutation hashes ``xxhash64(base, i)`` (each re-hashes a
    fixed 16 bytes instead of the variable-length string — the string is
    hashed once, not num_perm times, which dominates on
    multi-hundred-shingle documents) → partial+final min aggregation per
    doc. Shuffle volume = num_perm longs per doc (the map-side partial
    min collapses each partition)."""
    # Tall shape, not wide: a 64-column min-aggregate generates a huge
    # whole-stage-codegen function that costs ~20s of Janino compilation
    # per distinct plan (measured); exploding the perm index instead keeps
    # every generated function small. The extra 64x row blowup never
    # shuffles at full size — map-side partial min collapses each
    # partition to num_perm rows per doc before the exchange.
    exploded = shingled.select(
        F.col(id_col), F.explode(F.col(shingle_col)).alias("__s")
    ).select(F.col(id_col), F.xxhash64(F.col("__s")).alias("__h"))
    perms = exploded.select(
        id_col,
        "__h",
        F.explode(F.sequence(F.lit(0), F.lit(num_perm - 1))).alias("__i"),
    ).select(
        id_col, "__i", F.xxhash64(F.col("__h"), F.col("__i")).alias("__hv")
    )
    mins = perms.groupBy(id_col, "__i").agg(F.min("__hv").alias("__m"))
    return mins.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__i", "__m"))),
            lambda s: s["__m"],
        ).alias("__sig")
    )


def oph_signatures_table(
    shingled: DataFrame, id_col: str, shingle_col: str, num_perm: int = 64
) -> DataFrame:
    """One-permutation-hashing signatures: each shingle hash lands in bin
    ``pmod(h, num_perm)`` and the per-bin minimum is the signature row —
    ONE hash op per shingle instead of ``num_perm`` derived hashes
    (~num_perm× less CPU than the classic table; the choice for
    dense-shingle inputs like char n-grams).

    Empty bins (P ≈ e^(-shingles/num_perm); ~4% at 200 shingles / 64
    bins) are hash-filled from the document's global minimum — identical
    shingle sets still produce identical signatures, and the recall loss
    is bounded by the empty-bin fraction, so this table is only the
    default for shingle-dense inputs. ``shingle_col`` must already hold
    hashed (long) shingles."""
    exploded = shingled.select(
        F.col(id_col), F.explode(F.col(shingle_col)).alias("__h")
    )
    mins = (
        exploded.withColumn("__bin", F.pmod(F.col("__h"), F.lit(num_perm)))
        .groupBy(id_col, "__bin")
        .agg(F.min("__h").alias("__m"))
    )
    entries = mins.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("__bin", "__m"))).alias("__mp")
    )
    doc_min = F.array_min(F.map_values(F.col("__mp")))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("__mp"), i.cast("long")),
            F.xxhash64(doc_min, i),
        ),
    )
    return entries.select(F.col(id_col), sig.alias("__sig"))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (as sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )


def _pairs_in_buckets(
    bucketed: DataFrame, member_col: str, cap: int
) -> DataFrame:
    """(bucket keys, member) → distinct candidate pairs (__a, __b) struct
    columns, generated *within* each bucket.

    One groupBy shuffle collects each bucket's members co-located, then a
    row-local combination expansion emits the pairs — the signature/bucket
    pipeline upstream is computed exactly ONCE (a self-join would compute
    it once per join branch and shuffle it twice).

    Skew guard for 100 TB: a degenerate bucket of B members would expand
    to B²/2 pairs in one task. Buckets larger than ``cap`` fall back to
    star-pairing — every member pairs with the bucket minimum only (O(B)).
    Under keep-smallest-id dedup semantics this still removes every
    verified member of the bucket except the minimum; only exhaustive
    pair *listing* inside oversized buckets is sacrificed."""
    key_cols = [c for c in bucketed.columns if c != member_col]
    grouped = (
        bucketed.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list(member_col)).alias("__ms"))
        .filter(F.size("__ms") > 1)
    )
    ms = F.col("__ms")
    all_pairs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    star_pairs = F.transform(
        F.slice(ms, 2, F.size(ms)),
        lambda y: F.struct(F.element_at(ms, 1).alias("a"), y.alias("b")),
    )
    pairs = F.when(F.size(ms) <= F.lit(cap), all_pairs).otherwise(star_pairs)
    return (
        grouped.select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.a").alias("__a"), F.col("__p.b").alias("__b"))
        .distinct()
    )


def banded_buckets(
    sigs: DataFrame, id_col: str, sig_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, signature) → (band, bucket, id): one row per LSH band, where
    ``bucket`` is a hash of that band's signature slice. Two docs agreeing
    on all rows of a band land in the same (band, bucket) cell. This table
    IS the persistable near-dup index of a corpus (see
    :class:`MinHashCorpusIndex`)."""
    return sigs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.hash(
                        F.slice(
                            F.col(sig_col), b * rows_per_band + 1, rows_per_band
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
        F.col(id_col),
    ).select("bb.band", "bb.bucket", id_col)


def _candidate_pairs_by_band(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows_per_band: int,
    cap: int = 256,
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of >=1 band become candidate
    pairs. Returns distinct (id_a, id_b) with id_a < id_b."""
    banded = banded_buckets(sigs, id_col, sig_col, bands, rows_per_band).select(
        "band", "bucket", F.col(id_col).alias("__m")
    )
    return _pairs_in_buckets(banded, "__m", cap).select(
        F.col("__a").alias("id_a"), F.col("__b").alias("id_b")
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int, kind: str = "word"
) -> DataFrame:
    """(id, text) → (id, __sh array<long>): the document's distinct
    shingle-hash set, built on the codegen explode path. The 8-byte hash
    set is the unit all downstream near-dup machinery works on — signature
    derivation re-hashes fixed-width longs and exact-Jaccard verification
    intersects long arrays (collisions bounded by 2^-64)."""
    hashes = exploded_shingle_hashes(
        _ensure_parallelism(df), id_col, text_col, n, kind
    )
    return hashes.groupBy(id_col).agg(F.collect_set("__h").alias("__sh"))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    shingle_kind: str = "word",
    sig_method: str = "classic",
) -> DataFrame:
    """Verified near-duplicate pairs (exact Jaccard >= threshold) found via
    MinHash-LSH candidate generation. Default 32 perms / 8 bands / 4 rows:
    the S-curve crosses ~0.5 at s≈0.5 and catches s>=0.8 with
    P≈1-(1-0.8^4)^8 ≈ 0.982 — word-shingle similarity of unrelated
    documents is near zero (disjoint vocabulary), so 4-row bands stay
    selective and 32 permutations halve signature CPU vs 64 with ~1.5%
    recall loss at the threshold boundary."""
    # The shingle SET is kept as xxhash64 longs, not strings: signature
    # derivation then re-hashes 8-byte values instead of variable-length
    # strings, the verify join intersects long arrays instead of string
    # arrays (~3x cheaper at 200-shingle documents), and the persisted
    # table is a fraction of the size. Exact Jaccard over the hash sets
    # equals Jaccard over the shingle sets up to 2^-64 collisions.
    # Construction is the codegen explode path (no interpreted lambdas);
    # collect_set dedups per doc with map-side partial merge.
    # Persist it: it feeds signature generation AND both branches of the
    # verify join — without it the normalize+shingle scan re-executes 3x
    # (measured 5x wall-clock at sf0.1).
    shingled = persist_tracked(
        shingle_sets(df, id_col, text_col, shingle_n, shingle_kind)
    )
    sig_table = (
        oph_signatures_table if sig_method == "oph" else minhash_signatures_table
    )
    sigs = sig_table(shingled, id_col, "__sh", num_perm)
    pairs = _candidate_pairs_by_band(sigs, id_col, "__sig", bands, num_perm // bands)
    sh_a = shingled.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    sh_b = shingled.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    shingle_n: int = 3,
    shingle_kind: str = "word",
) -> DataFrame:
    """EXACT near-duplicate pairs (Jaccard >= threshold) via prefix
    filtering (AllPairs/PPJoin): each doc exposes only the
    ``floor((1-t)·|d|)+1`` globally-smallest shingle hashes as its
    "prefix"; any pair meeting the threshold provably shares a prefix
    element, so the candidate equi-join on prefix hashes loses NO
    qualifying pair — unlike MinHash-LSH this is deterministic and
    recall-1.0, at the cost of candidate volume that grows with document
    overlap (use the LSH path when approximate recall is acceptable).

    r10: the candidate join carries PPJoin-style filters (Xiao et al.
    2008), both provably lossless:

    - LENGTH filter: Jaccard ≥ t forces min(|a|,|b|) ≥ t·max(|a|,|b|)
      (I ≤ min, U ≥ max, I ≥ t·U) — pairs with incompatible set sizes
      never reach verification.
    - POSITIONAL filter: a prefix match at sorted positions (pa, pb)
      bounds the total overlap by min(pa,pb) + 1 + min(|a|−1−pa,
      |b|−1−pb) (shared elements split around the matched value; this
      instance-universal bound needs no first-match bookkeeping, so
      every instance of a qualifying pair survives it); prune when the
      bound cannot reach the required overlap t·(|a|+|b|)/(1+t), with
      a 1e-9 slack dwarfing double rounding at these magnitudes.

    Verification computes |union| arithmetically as |a|+|b|−|a∩b|
    (sets are distinct by construction) — one array_intersect per
    candidate, no array_union materialization — with the SAME final
    float comparison as before (|union| is an exact integer either
    way, so acceptance is unchanged)."""
    sets = persist_tracked(
        shingle_sets(df, id_col, text_col, shingle_n, shingle_kind)
    )
    # candidate keys are the prefix elements of __sh directly: 8-byte
    # longs already (shingle_sets hashes shingles at build time), so
    # the equi-join exchanges fixed-width keys, never strings. (An r9
    # draft wrapped these in a second xxhash64 — a no-op re-hash of
    # already-hashed longs; removed r10 per ADVICE, and the r9 warm
    # triple's 2.97→0.93 s reading belongs to the surrounding rework,
    # not to any string-key elimination.)
    t = float(threshold)
    pre = sets.select(
        F.col(id_col),
        F.size("__sh").alias("__sz"),
        F.posexplode(
            F.expr(
                "slice(array_sort(__sh), 1, "
                f"CAST(floor({1.0 - threshold} * size(__sh)) AS INT)"
                " + 1)"
            )
        ).alias("__pos", "__p"),
    )
    a = pre.select(
        F.col(id_col).alias("id_a"),
        F.col("__sz").alias("__sza"),
        F.col("__pos").alias("__pa"),
        "__p",
    )
    b = pre.select(
        F.col(id_col).alias("id_b"),
        F.col("__sz").alias("__szb"),
        F.col("__pos").alias("__pb"),
        "__p",
    )
    overlap_bound = (
        F.least("__pa", "__pb")
        + 1
        + F.least(
            F.col("__sza") - 1 - F.col("__pa"),
            F.col("__szb") - 1 - F.col("__pb"),
        )
    ).cast("double")
    required = (
        F.lit(t)
        * (F.col("__sza") + F.col("__szb")).cast("double")
        / F.lit(1.0 + t)
    )
    cand = (
        a.join(b, "__p")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("__sza", "__szb").cast("double")
            >= F.lit(t) * F.greatest("__sza", "__szb").cast("double")
        )
        .filter(overlap_bound >= required - F.lit(1e-9))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("__sh_a"),
        F.size("__sh").alias("__na"),
    )
    sh_b = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("__sh_b"),
        F.size("__sh").alias("__nb"),
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    uni = F.col("__na") + F.col("__nb") - inter
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .filter(inter.cast("double") >= F.lit(threshold) * uni.cast("double"))
        .select("id_a", "id_b")
    )


def jaccard_dedup_exact(
    df: DataFrame, id_col: str, text_col: str, **kw
) -> DataFrame:
    """Exact Jaccard dedup (keep smallest id) — the deterministic
    oracle-comparable counterpart of :func:`minhash_dedup`."""
    pairs = prefix_filter_jaccard_pairs(df, id_col, text_col, **kw)
    return _drop_matched(df, id_col, pairs)


def batch_corpus_jaccard_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    shingle_n: int = 3,
    shingle_kind: str = "word",
) -> DataFrame:
    """EXACT batch-vs-corpus Jaccard pairs >= threshold — the recall-1.0
    anchor for :meth:`MinHashCorpusIndex.probe_pairs` (the asymmetric
    counterpart of :func:`prefix_filter_jaccard_pairs`).

    Candidate generation is cross-collection prefix filtering: both
    sides expose only the ``floor((1-t)·|d|)+1`` globally-smallest
    shingle hashes, and any pair meeting the threshold provably shares a
    prefix element — recall 1.0, deterministic. The batch side (crawl
    delta — small by contract) broadcasts into both the candidate join
    and the verify join, so the corpus side streams map-side with no
    join shuffle; the corpus IS re-shingled (one groupBy to build its
    sets), which is exactly the linear-per-delta cost the persisted
    index probe avoids — this op exists as that path's oracle."""

    def prefix(sets_df: DataFrame, out_id: str) -> DataFrame:
        return sets_df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.expr(
                    "slice(array_sort(__sh), 1, "
                    f"CAST(floor({1.0 - threshold} * size(__sh)) AS INT) + 1)"
                )
            ).alias("__p"),
        )

    c_sets = persist_tracked(
        shingle_sets(corpus, id_col, text_col, shingle_n, shingle_kind)
    )
    b_sets = persist_tracked(
        shingle_sets(batch, id_col, text_col, shingle_n, shingle_kind)
    )
    cand = (
        prefix(c_sets, "corpus_id")
        .join(F.broadcast(prefix(b_sets, "batch_id")), "__p")
        .select("batch_id", "corpus_id")
        .distinct()
    )
    c_side = c_sets.select(
        F.col(id_col).alias("corpus_id"), F.col("__sh").alias("__sh_c")
    )
    b_side = b_sets.select(
        F.col(id_col).alias("batch_id"), F.col("__sh").alias("__sh_b")
    )
    return (
        c_side.join(F.broadcast(cand), "corpus_id")
        .join(F.broadcast(b_side), "batch_id")
        .withColumn("jaccard_sim", jaccard(F.col("__sh_b"), F.col("__sh_c")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("batch_id", "corpus_id", "jaccard_sim")
    )


def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    on_unconverged: str = "raise",
) -> DataFrame:
    """Distributed connected components over a pair list via iterative
    min-label propagation: every vertex repeatedly adopts the minimum
    label among itself and its neighbors until a fixpoint.

    Returns (id, component) where ``component`` is the minimum vertex id
    of the component. Converges in O(diameter) rounds — duplicate
    clusters are near-cliques from LSH pair generation, so 2-3 rounds in
    practice. Each round is one join + one aggregation; lineage is
    truncated per round with ``localCheckpoint`` (an iterative plan that
    doubles every round would otherwise blow up the optimizer). The
    driver loop only reads the scalar change-count per round — control
    flow on the driver, data never leaves the cluster (the GraphX /
    Pregel execution shape).

    Convergence is VERIFIED, never assumed: if ``max_iter`` rounds
    exhaust with labels still changing (a >``max_iter``-hop chain — not
    a realistic LSH dup graph, but possible on arbitrary pair input),
    the default ``on_unconverged="raise"`` errors loudly instead of
    returning silently mislabeled components (VERDICT r5 #4);
    ``on_unconverged="warn"`` logs and returns the partial labels for
    callers that accept over-segmentation (a component may split into
    several labels; no two distinct components ever merge)."""
    if on_unconverged not in ("raise", "warn"):
        raise ValueError(
            f"on_unconverged must be 'raise' or 'warn', got {on_unconverged!r}"
        )
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # Size the iteration's parallelism to the graph: a near-dup pair graph
    # is usually tiny relative to the corpus, and running each round's
    # join over the session's full shuffle-partition count schedules
    # mostly-empty tasks (measured: 4x wall-clock on a 512-edge graph).
    # ~1M edges per partition keeps big graphs parallel.
    n_edges = edges.count()
    parts = max(1, min(n_edges // 1_000_000 + 1, 200))
    edges = edges.repartition(parts, "dst").localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .repartition(parts, "id")
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    # r13-opt (guide §2.4): one join + ONE aggregation per round instead
    # of join + aggregation + second join — the neighbor-min rows and
    # the vertex's own label union into a single min-aggregation on the
    # vertex key (identical integer min semantics, so per-round labels
    # and the final fixpoint are unchanged bit-for-bit). Change
    # detection rides on the label-sum invariant: labels only ever
    # DECREASE, so Σ component (exact DECIMAL(38,0)) strictly decreases
    # iff any vertex changed — an O(1)-row read off the checkpointed
    # labels replacing the per-row comparison flag (same round count,
    # same convergence verdict, one less shuffle per round).
    def _label_sum(lbls: DataFrame):
        return lbls.agg(
            F.coalesce(
                F.sum(F.col("component").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("__s")
        ).collect()[0]["__s"]

    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        nbr = edges.join(labels, edges["dst"] == labels["id"]).select(
            F.col("src").alias("id"), "component"
        )
        updated = (
            labels.select("id", "component")
            .unionByName(nbr)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        labels = updated
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        msg = (
            f"connected_components: labels still changing after "
            f"{max_iter} min-label rounds — the pair graph has a "
            f"component with diameter > {max_iter}; raise max_iter"
        )
        if on_unconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg + " (returning partial, over-segmented labels)")
    return labels


def dedup_by_components(
    df: DataFrame, id_col: str, pairs: DataFrame
) -> DataFrame:
    """Full transitive dedup: keep only the minimum-id document of each
    connected component of the verified-pair graph (stricter than the
    greedy pair rule on chains A~B, B~C where A~C was never verified)."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _drop_matched(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Greedy keep-smallest-id: drop every doc that appears as the larger
    id of a verified pair (broadcast-able anti-join when dup count is
    small, else shuffled left_anti — Catalyst/AQE decides)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def minhash_dedup(df: DataFrame, id_col: str, text_col: str, **kw) -> DataFrame:
    """X2 — MinHash-LSH near-dup dedup (keep smallest id per found pair)."""
    pairs = minhash_near_dup_pairs(df, id_col, text_col, **kw)
    return _drop_matched(df, id_col, pairs)


def ngram_jaccard_dedup(
    df: DataFrame, id_col: str, text_col: str, *, threshold: float = 0.8,
    n: int = 5, bands: int = 8, **kw
) -> DataFrame:
    """Character n-gram Jaccard dedup: same LSH candidate path, exact
    character-shingle Jaccard verification.

    Char shingles of unrelated documents overlap far more than word
    shingles (common 5-grams), so the default banding is 8 bands x 8 rows:
    the S-curve crosses ~0.77, cutting candidate volume ~300x vs 16x4 at
    the cost of P(catch)=0.77 at s=0.8 (0.99 at s=0.9). Signatures use
    one-permutation hashing — char-shingle sets are dense (hundreds per
    document), exactly the regime where OPH's empty-bin fraction is
    negligible and the num_perm-fold hash saving dominates."""
    pairs = minhash_near_dup_pairs(
        df, id_col, text_col, threshold=threshold, shingle_n=n,
        shingle_kind="char", bands=bands, sig_method="oph", **kw
    )
    return _drop_matched(df, id_col, pairs)


# --------------------------------------------------------------------------
# Incremental near-dup: persisted corpus signature index
# --------------------------------------------------------------------------

class MinHashCorpusIndex:
    """Persisted MinHash-LSH index of an ingested corpus, for
    batch-vs-corpus NEAR-dup dedup — the crawl-delta shape
    :func:`incremental_dedup` covers for exact duplicates, extended to
    paraphrased / lightly-edited re-crawls.

    Layout under ``path`` (all parquet, so the index lives on the same
    DFS as the corpus):

    - ``gen=G/bands/``     (band, bucket, <id>) — the LSH banding table
    - ``gen=G/shingles/``  (<id>, __sh array<long>) — hashed shingle
      sets for exact-Jaccard verification of banding candidates
    - ``params/``    one-row JSON pinning the signature parameters, so a
      later session probes with bit-identical banding; verified against
      the instance's parameters on every probe/append (a mismatched
      banding would silently return garbage candidates)
    - ``tombstones/`` deleted doc ids (:meth:`delete`) — anti-joined at
      probe time, physically dropped by :meth:`compact`

    Scale contract (the reason this class exists): a crawl delta probing
    a petabyte corpus must touch the corpus ONLY through this index. The
    corpus text is never re-read, re-shingled, or re-paired; the index
    tables are a small fixed multiple of the doc count (bands: ``bands``
    rows × ~20 B/doc; shingles: one long per distinct shingle). Both
    probe joins broadcast the batch side, so the corpus-side scans
    stream map-side through broadcast hash joins — zero corpus shuffle
    per delta. Both tables are read with a schema captured once per
    instance, so a probe infers no parquet schema.

    Accepting a batch signs it once: :meth:`filter_novel_and_fold`
    probes with the batch's persisted (sets, banded) tables and folds
    the survivors in as a by-id semi-join of those same tables, so the
    fold-in re-shingles and re-signs nothing (:meth:`append` signs the
    rows it is given, for callers that have no signed batch). Nothing
    is rebuilt: every append rebalances before its write, so AQE sizes
    the appended files — a small batch adds one file per table.

    Maintenance: a long-lived index still gains files with every
    append. :meth:`compact` rewrites the live tables into few
    right-sized files using the same crash-safe generation swap as
    the upsert sink — stage ``gen=G+1``, marker-commit, GC — and
    :meth:`stats` reports doc/band/file counts for scheduling it.
    """

    def __init__(
        self,
        path: str,
        id_col: str = "doc_id",
        *,
        threshold: float = 0.8,
        num_perm: int = 32,
        bands: int = 8,
        shingle_n: int = 3,
        shingle_kind: str = "word",
        sig_method: str = "classic",
    ) -> None:
        self.path = path
        self.id_col = id_col
        self.threshold = threshold
        self.num_perm = num_perm
        self.bands = bands
        self.shingle_n = shingle_n
        self.shingle_kind = shingle_kind
        self.sig_method = sig_method
        self._gens = GenerationalDir(path)
        self._tombs = TombstoneSet(path, id_col)
        self._params_verified = False
        self._layout_checked = False
        self._schemas: dict[str, StructType] = {}

    def _adopt_legacy_layout(self, spark) -> None:
        """Pre-generation indexes stored ``bands/`` and ``shingles/``
        flat under ``path`` (no ``gen=*``); resolving ``gen=0/bands``
        against one failed with an opaque missing-path error (ADVICE r4).
        Adopt such a layout as generation 0 with two metadata renames —
        idempotent and crash-resumable, because each table is checked and
        moved independently (a crash between the renames leaves one table
        flat; the next open moves it too)."""
        if self._layout_checked:
            return
        self._layout_checked = True
        fs, jvm = self._gens._fs(spark)
        P = jvm.org.apache.hadoop.fs.Path
        for sub in ("bands", "shingles"):
            src = P(f"{self.path}/{sub}")
            if fs.exists(src):
                dst = P(f"{self.path}/gen=0/{sub}")
                if fs.exists(dst):
                    raise ValueError(
                        f"MinHashCorpusIndex at {self.path} has BOTH a "
                        f"legacy flat {sub}/ and gen=0/{sub} — ambiguous; "
                        f"delete one (the flat copy predates the "
                        f"generation layout) and reopen"
                    )
                fs.mkdirs(P(f"{self.path}/gen=0"))
                fs.rename(src, dst)

    def _path(self, spark, table: str) -> str:
        """Live location of the ``bands`` or ``shingles`` table."""
        self._adopt_legacy_layout(spark)
        return f"{self._gens.gen_path(spark)}/{table}"

    def _read(self, spark, table: str) -> DataFrame:
        """The live ``bands`` or ``shingles`` table, read with the schema
        captured on this instance's first read of it: inferring a parquet
        schema costs a footer-reading Spark job, and every probe reads
        both tables."""
        path = self._path(spark, table)
        if table not in self._schemas:
            self._schemas[table] = spark.read.parquet(path).schema
        return spark.read.schema(self._schemas[table]).parquet(path)

    def _params_tuple(self):
        return (self.id_col, float(self.threshold), int(self.num_perm),
                int(self.bands), int(self.shingle_n), self.shingle_kind,
                self.sig_method)

    def _check_params(self, spark) -> None:
        """Refuse to probe/append with parameters that differ from the
        ones the on-disk index was built with — MinHash banding is only
        meaningful when both sides hash identically, and a silent
        mismatch would return garbage candidates, not an error."""
        if self._params_verified:
            return
        p = spark.read.json(f"{self.path}/params").collect()[0]
        on_disk = (p["id_col"], float(p["threshold"]), int(p["num_perm"]),
                   int(p["bands"]), int(p["shingle_n"]), p["shingle_kind"],
                   p["sig_method"])
        if on_disk != self._params_tuple():
            raise ValueError(
                f"MinHashCorpusIndex parameter mismatch at {self.path}: "
                f"index was built with {on_disk}, instance has "
                f"{self._params_tuple()}; reopen via MinHashCorpusIndex.load()"
            )
        self._params_verified = True

    # -- construction ------------------------------------------------------

    def _signed(self, df: DataFrame, text_col: str):
        """(shingle sets, banded buckets) for any document frame, using
        the index's pinned parameters — the rows of the ``shingles`` and
        ``bands`` tables for ``df``."""
        sets = shingle_sets(df, self.id_col, text_col, self.shingle_n,
                            self.shingle_kind)
        table = (
            oph_signatures_table if self.sig_method == "oph"
            else minhash_signatures_table
        )
        sigs = table(sets, self.id_col, "__sh", self.num_perm)
        return sets, banded_buckets(
            sigs, self.id_col, "__sig", self.bands, self.num_perm // self.bands
        )

    def _write(self, sets: DataFrame, banded: DataFrame, mode: str) -> None:
        """Write both tables. An append rebalances first, so AQE sizes its
        files to the data (one file per table for a small batch) instead
        of one file per task of the signing plan."""
        spark = sets.sparkSession
        if mode == "append":
            sets, banded = sets.hint("rebalance"), banded.hint("rebalance")
        banded.write.mode(mode).parquet(self._path(spark, "bands"))
        sets.write.mode(mode).parquet(self._path(spark, "shingles"))

    def _sign_and_write(self, df: DataFrame, text_col: str, mode: str) -> None:
        sets, banded = self._signed(df, text_col)
        sets = sets.persist()  # feeds both the banding chain and its own write
        self._write(sets, banded, mode)
        sets.unpersist()

    def build(self, corpus: DataFrame, text_col: str = "text") -> None:
        """Index an existing corpus (one full scan, ever — every later
        delta probes the result)."""
        self._schemas.clear()  # an overwrite may change the id column's type
        self._sign_and_write(corpus, text_col, "overwrite")
        local_rows_df(
            corpus.sparkSession,
            [(self.id_col, self.threshold, self.num_perm, self.bands,
              self.shingle_n, self.shingle_kind, self.sig_method)],
            "id_col string, threshold double, num_perm int, bands int, "
            "shingle_n int, shingle_kind string, sig_method string",
        ).coalesce(1).write.mode("overwrite").json(f"{self.path}/params")
        self._params_verified = True

    def append(self, accepted: DataFrame, text_col: str = "text") -> None:
        """Fold an accepted batch into the index: sign it, then append
        its rows to both tables, one AQE-sized file per table for a small
        batch (the existing index files are untouched). A batch that was
        just probed is cheaper to fold through the ``fold`` of
        :meth:`filter_novel_and_fold`, which reuses the probe's signing."""
        self._check_params(accepted.sparkSession)
        self._sign_and_write(accepted, text_col, "append")

    def delete(self, spark, doc_ids) -> None:
        """Takedown: tombstone ``doc_ids`` (an int iterable or 1-column
        DataFrame). Logical-immediate, physical at the next
        :meth:`compact` — see :class:`TombstoneSet` for the contract.
        O(delete-set) cost; the index tables are untouched until then."""
        self._tombs.add(spark, doc_ids)

    # -- maintenance -------------------------------------------------------

    def stats(self, spark) -> dict:
        """Index health counters for scheduling :meth:`compact`:
        ``n_docs`` (one shingle-set row per indexed doc), ``n_band_rows``
        (= n_docs × bands), ``n_band_files`` / ``n_shingle_files`` (the
        small-file accumulation appends cause), and the live
        ``generation``."""
        bands_df = self._read(spark, "bands")
        sh_df = self._read(spark, "shingles")
        return {
            "generation": self._gens.current_gen(spark),
            "n_docs": sh_df.count(),
            "n_band_rows": bands_df.count(),
            "n_band_files": len(bands_df.inputFiles()),
            "n_shingle_files": len(sh_df.inputFiles()),
            "n_tombstones": self._tombs.count(spark),
        }

    def compact(self, spark, target_files: int | None = None) -> None:
        """Merge append-accumulated small files: rewrite the live bands/
        shingles tables into ``target_files`` right-sized files under
        generation G+1, marker-commit, GC generation G. Crash-safe the
        same way the upsert sink is — a crash before the commit leaves
        generation G fully live; the stale stage is GC'd by the next
        successful compaction. Contents are untouched (pure re-layout)
        EXCEPT tombstoned docs, whose band/shingle rows are dropped
        physically here and whose tombstones are then cleared — probes
        before and after stay identical (the tombstones were already
        hiding those docs at probe time)."""
        nxt = self._gens.current_gen(spark) + 1
        live_bands = self._read(spark, "bands")
        live_sh = self._read(spark, "shingles")
        tombs = self._tombs.frame(spark)
        if tombs is not None:
            live_bands = live_bands.join(
                F.broadcast(tombs), self.id_col, "left_anti"
            )
            live_sh = live_sh.join(
                F.broadcast(tombs), self.id_col, "left_anti"
            )
        n = target_files or max(
            1, spark.sparkContext.defaultParallelism // 4
        )
        live_bands.repartition(n).write.mode("overwrite").parquet(
            f"{self.path}/gen={nxt}/bands"
        )
        live_sh.repartition(n).write.mode("overwrite").parquet(
            f"{self.path}/gen={nxt}/shingles"
        )
        self._gens.commit(spark, nxt)
        self._gens.gc_below(spark, keep=nxt)
        self._tombs.clear(spark)

    @classmethod
    def load(cls, spark, path: str) -> "MinHashCorpusIndex":
        """Reopen an index with the exact parameters it was built with."""
        p = spark.read.json(f"{path}/params").collect()[0]
        idx = cls(
            path, p["id_col"], threshold=p["threshold"],
            num_perm=int(p["num_perm"]), bands=int(p["bands"]),
            shingle_n=int(p["shingle_n"]), shingle_kind=p["shingle_kind"],
            sig_method=p["sig_method"],
        )
        idx._params_verified = True  # parameters came from the index itself
        return idx

    # -- probing -----------------------------------------------------------

    def _sign(self, batch: DataFrame, text_col: str):
        """(shingle sets, banded buckets) for a batch, using the index's
        pinned parameters — both persisted, because the shingle/signature
        pipeline is the expensive part of any delta and every downstream
        consumer (corpus probe, within-batch dedup, verification, the
        fold-in of :meth:`filter_novel_and_fold`) reuses these two tables
        instead of re-deriving them."""
        b_sets, b_banded = self._signed(batch, text_col)
        return persist_tracked(b_sets), persist_tracked(b_banded)

    def _probe_from(self, spark, b_sets: DataFrame, b_banded: DataFrame) -> DataFrame:
        """Corpus probe over prebuilt batch tables. Join order is chosen
        for the delta-vs-petabyte case: the batch's banding table
        broadcasts into the corpus ``bands/`` scan, the surviving
        candidate ids broadcast into the ``shingles/`` scan — the corpus
        side of both joins never shuffles."""
        b_banded_r = b_banded.withColumnRenamed(self.id_col, "batch_id")
        c_banded = self._read(spark, "bands")
        cand = (
            c_banded.join(F.broadcast(b_banded_r), ["band", "bucket"])
            .select("batch_id", F.col(self.id_col).alias("corpus_id"))
            .distinct()
        )
        tombs = self._tombs.frame(spark)
        if tombs is not None:
            # deleted docs stop matching IMMEDIATELY — applied to the
            # already-tiny candidate set, so it's a broadcast anti-join,
            # not a corpus-side filter; compact() drops the rows for real
            cand = cand.join(
                F.broadcast(tombs.withColumnRenamed(self.id_col, "corpus_id")),
                "corpus_id",
                "left_anti",
            )
        c_sets = self._read(spark, "shingles").select(
            F.col(self.id_col).alias("corpus_id"), F.col("__sh").alias("__sh_c")
        )
        b_side = b_sets.select(
            F.col(self.id_col).alias("batch_id"), F.col("__sh").alias("__sh_b")
        )
        return (
            c_sets.join(F.broadcast(cand), "corpus_id")
            .join(F.broadcast(b_side), "batch_id")
            .withColumn("jaccard_sim", jaccard(F.col("__sh_b"), F.col("__sh_c")))
            .filter(F.col("jaccard_sim") >= self.threshold)
            .select("batch_id", "corpus_id", "jaccard_sim")
        )

    def probe_pairs(self, batch: DataFrame, text_col: str = "text") -> DataFrame:
        """Verified near-dup pairs between a new batch and the indexed
        corpus: (batch_id, corpus_id, jaccard_sim) with exact shingle
        Jaccard >= threshold."""
        spark = batch.sparkSession
        self._check_params(spark)
        b_sets, b_banded = self._sign(batch, text_col)
        return self._probe_from(spark, b_sets, b_banded)

    def filter_novel(
        self, batch: DataFrame, text_col: str = "text", *,
        dedup_within: bool = True,
    ) -> DataFrame:
        """The incremental-ingestion operator: batch rows that are not a
        near-dup of anything in the corpus, optionally near-dup-deduped
        within the batch itself (same parameters). The survivors are what
        :meth:`append` should fold into the index.

        The delta's text is shingled and signed exactly ONCE, and the
        corpus is probed exactly once: the probe reads the persisted
        (sets, banded) tables, its loser ids are persisted, and both the
        within-batch pass (over the batch's banded rows minus those ids —
        signatures are per-doc pure functions, so this reproduces
        ``minhash_dedup(fresh)``'s candidates identically) and one final
        broadcast anti-join read them. Ingest loops that fold the
        survivors back in should use :meth:`filter_novel_and_fold`,
        which reuses this signing for the fold-in too."""
        return self.filter_novel_and_fold(
            batch, text_col, dedup_within=dedup_within
        )[0]

    def filter_novel_and_fold(
        self, batch: DataFrame, text_col: str = "text", *,
        dedup_within: bool = True,
    ) -> tuple[DataFrame, Callable[[DataFrame], None]]:
        """(:meth:`filter_novel`'s result, ``fold``) for one batch, signed
        once. ``fold(accepted)`` does what ``append(accepted, text_col)``
        does for any subset ``accepted`` of the batch's rows, without
        signing them again: it appends the batch's persisted (sets,
        banded) rows of the accepted ids — a broadcast semi-join of each
        table, projected back to the table's own column order (a
        ``USING`` semi-join puts the key first, which would silently
        mis-order an appended parquet table) — AQE-sized like
        :meth:`append`."""
        spark = batch.sparkSession
        self._check_params(spark)
        b_sets, b_banded = self._sign(batch, text_col)
        # the probe's losers feed the within-batch pass and the final
        # anti-join: persisted, so the corpus is probed once per batch
        losers = persist_tracked(
            self._probe_from(spark, b_sets, b_banded)
            .select(F.col("batch_id").alias(self.id_col))
            .distinct()
        )
        if dedup_within:
            fb = b_banded.join(
                F.broadcast(losers), self.id_col, "left_anti"
            ).select("band", "bucket", F.col(self.id_col).alias("__m"))
            cand = _pairs_in_buckets(fb, "__m", cap=256).select(
                F.col("__a").alias("id_a"), F.col("__b").alias("id_b")
            )
            sh_a = b_sets.select(
                F.col(self.id_col).alias("id_a"), F.col("__sh").alias("__sh_a")
            )
            sh_b = b_sets.select(
                F.col(self.id_col).alias("id_b"), F.col("__sh").alias("__sh_b")
            )
            verified = (
                cand.join(sh_a, "id_a")
                .join(sh_b, "id_b")
                .withColumn(
                    "jaccard_sim", jaccard(F.col("__sh_a"), F.col("__sh_b"))
                )
                .filter(F.col("jaccard_sim") >= self.threshold)
                .select(F.col("id_b").alias(self.id_col))
            )
            # keep-smallest-id: the larger id of each verified pair loses
            losers = losers.unionByName(verified)
        # every loser is a batch id, so the final anti-join broadcasts
        novel = batch.join(F.broadcast(losers), self.id_col, "left_anti")

        def fold(accepted: DataFrame) -> None:
            ids = F.broadcast(accepted.select(self.id_col))
            sets, banded = (
                t.join(ids, self.id_col, "semi").select(*t.columns)
                for t in (b_sets, b_banded)
            )
            self._write(sets, banded, "append")

        return novel, fold


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(text_col: Column | str, shingle_n: int = 3) -> Column:
    """64-bit SimHash over word shingles, as a signed bigint.

    Per shingle: xxhash64 → 64 bit votes (+1/-1); votes summed per bit
    across shingles; sign of each bit-sum becomes the output bit. Entirely
    row-local aggregate/zip_with — runs in codegen, no shuffle."""
    hashes = F.transform(word_shingles(text_col, shingle_n), lambda s: F.xxhash64(s))

    def bitvec(h: Column) -> Column:
        # shift amounts must be Python ints (static in the expression tree)
        return F.array(
            *[
                F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for b in range(64)
            ]
        )

    bitvotes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, bitvec(h), lambda a, v: a + v),
    )
    sig = F.lit(0).cast("long")
    for b in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.element_at(bitvotes, b + 1) > 0,
                F.lit(1 << b if b < 63 else -(1 << 63)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    return sig


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """(id, text) → (id, __sim bigint) via the codegen path (same tall
    strategy as :func:`minhash_signatures_table` — a 64-column vote
    aggregate plus a 64-deep signature fold generates Janino-hostile
    megafunctions): explode shingles → one xxhash64 per shingle → explode
    the bit index → per-(doc, bit) vote sums (map-side partial collapses
    before the shuffle) → one sum of shifted bits rebuilds the bigint.

    The bit-63 term lands as the sign bit: ``shiftleft(1L, 63)`` wraps to
    Long.MIN_VALUE and the vote sum of distinct powers of two is exactly
    the signed-two's-complement signature, with every partial sum in
    range (ANSI-safe)."""
    # codegen explode path; duplicate shingles vote with their frequency
    # (classic frequency-weighted SimHash)
    hashed = exploded_shingle_hashes(
        _ensure_parallelism(df), id_col, text_col, shingle_n, "word"
    )
    bits = hashed.select(
        id_col,
        "__h",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("__b"),
    ).select(
        id_col,
        "__b",
        F.when(F.expr("(shiftright(__h, __b) & 1) = 1"), F.lit(1))
        .otherwise(F.lit(-1))
        .alias("__v"),
    )
    votes = bits.groupBy(id_col, "__b").agg(F.sum("__v").alias("__vs"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("__vs") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), __b)")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("__sim")
    )


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, *, max_hamming: int = 3
) -> DataFrame:
    """Verified pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Blocking: split the 64-bit signature into ``max_hamming + 1`` chunks —
    pigeonhole guarantees any pair within the distance agrees exactly on at
    least one chunk, so the self-join on (chunk_idx, chunk_value) has no
    false negatives."""
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks
    # Persist the (id, sim) table: it is tiny (16 bytes/doc), and cutting
    # the lineage here stops Catalyst from inlining the 64-level signature
    # fold expression into every chunk projection downstream (a measured
    # multi-second planning/codegen blowup, not an execution cost).
    sigs = persist_tracked(simhash_table(df, id_col, text_col))
    mask = (1 << chunk_bits) - 1
    # Members carry (id, signature) into the bucket groupBy so hamming
    # verification is row-local on the expanded pairs — the signature
    # pipeline runs exactly once (a blocking self-join would run it per
    # join branch). Struct sort key is the leading id field.
    chunks = sigs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("__sim"), c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("ckey"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
        F.struct(F.col(id_col).alias("id"), F.col("__sim").alias("sim")).alias("__m"),
    ).select("cc.chunk", "cc.ckey", "__m")
    return (
        _pairs_in_buckets(chunks, "__m", cap=256)
        .withColumn(
            "hamming",
            F.bit_count(F.col("__a.sim").bitwiseXOR(F.col("__b.sim"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("__a.id").alias("id_a"),
            F.col("__b.id").alias("id_b"),
            "hamming",
        )
    )


def simhash_dedup(df: DataFrame, id_col: str, text_col: str, **kw) -> DataFrame:
    """X2 (SimHash flavor) — near-dup dedup, keep smallest id."""
    pairs = simhash_near_dup_pairs(df, id_col, text_col, **kw)
    return _drop_matched(df, id_col, pairs)


# --------------------------------------------------------------------------
# Embedding cosine near-dup
# --------------------------------------------------------------------------

def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (fixed seed so the
    bucketing is reproducible across runs and engines)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def sign_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = (vec · plane_i) >= 0.

    HOF fold deliberately (r13-opt finding): an unrolled
    ``0.0 + v[0]*p0 + …`` chain per plane is bit-identical but is ONE
    unsplittable expression — at 18 planes × 64 dims it overflows
    Janino's method limit and the INTERPRETED nested-Add fallback is
    slower than the HOF loop (embedding_neardup_pairs isolated triple
    3.5 → 9.4 s); at 6 planes the per-plan compile cost alone exceeds
    the interpreted-eval savings at bench scale. See
    OPTIMIZATION_r13.md §8."""
    bucket = F.lit(0).cast("long")
    v = to_double_array(vec_col)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        d = F.aggregate(
            F.zip_with(v, p, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        bucket = bucket.bitwiseOR(
            F.when(d >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def _verify_pairs_broadcast(
    cand: DataFrame, unit: DataFrame, threshold: float, max_rows: int
) -> DataFrame | None:
    """Broadcast-matrix verify for :func:`embedding_near_dup_pairs`
    (r13-opt, guide §3.1/§4.2): when the unit-vector table fits a
    documented driver bound, verifying a candidate pair needs NO join
    at all — broadcast the (id → unit vector) matrix once and compute
    every pair's dot inside an Arrow kernel fed ONLY the ~16-byte pair
    rows. The alternative attaches vectors by two id joins and folds a
    64-dim HOF per pair; A/B at sf0.1 (1.10 M candidate pairs, warm
    medians, same session): HOF-after-join 2.3 s, Arrow kernel fed the
    joined vectors 11 s (the 1 GB pair×vector Arrow transfer is the
    cost, not the dot), broadcast-matrix kernel 1.1 s. All three
    bit-identical on the surviving rows.

    Returns ``None`` when the contract does not hold and the caller
    must keep the join path: vector table over ``max_rows`` (the probe
    collect is LIMIT-capped, so an over-bound table costs one bounded
    partial scan, not an OOM), ragged vector lengths (the join path's
    ``zip_with`` NULL-pads to the longer side), or duplicate ids (the
    join path multiplies such pairs; an index lookup cannot).

    Bit-parity with the join path, case by case (pinned by
    ``test_embedding_neardup_verify_kernel_parity``):
    - normalization stays in the JVM (``unit`` is collected AFTER the
      norm transform), so only the dot moves to numpy — accumulated
      dim-by-dim in the fold's left-to-right IEEE order;
    - a NULL vector or a vector with a NULL element makes the join
      path's dot NULL and the ``>= threshold`` filter drops it; here
      such ids are excluded from the matrix and their pairs dropped in
      the kernel — same rows out;
    - a NaN dot survives the filter on both paths (Spark orders NaN
      above every double); Arrow turns the kernel's NaN into NULL in
      transfer, coalesced back to NaN below."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    flagged = unit.select(
        "__id",
        "__u",
        (
            F.col("__u").isNull() | F.exists("__u", lambda x: x.isNull())
        ).alias("__bad"),
    )
    rows = flagged.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    good = [r for r in rows if not r["__bad"]]
    if len({len(r["__u"]) for r in good}) > 1:
        return None
    import pandas as pd

    ids = [r["__id"] for r in good]
    if not pd.Index(ids).is_unique:
        return None
    M = (
        np.array([r["__u"] for r in good], dtype=np.float64)
        if good
        else np.zeros((0, 0), dtype=np.float64)
    )
    sc = cand.sparkSession.sparkContext
    b_ids = sc.broadcast(ids)
    b_mat = sc.broadcast(M)
    out_schema = StructType(
        [
            cand.schema["id_a"],
            cand.schema["id_b"],
            StructField("cosine_sim", DoubleType()),
        ]
    )

    def kernel(batches):
        import pandas as pd

        idx = pd.Index(b_ids.value)
        mat = b_mat.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ia = idx.get_indexer(pdf["id_a"])
            ib = idx.get_indexer(pdf["id_b"])
            ok = (ia >= 0) & (ib >= 0)
            if not ok.any():
                continue
            sub = pdf[ok]
            A = mat[ia[ok]]
            B = mat[ib[ok]]
            s = np.zeros(len(A))
            for d in range(A.shape[1]):  # dim-by-dim: the SQL fold order
                s += A[:, d] * B[:, d]
            yield pd.DataFrame(
                {
                    "id_a": sub["id_a"].to_numpy(),
                    "id_b": sub["id_b"].to_numpy(),
                    "cosine_sim": s,
                }
            )

    return (
        cand.mapInPandas(kernel, out_schema)
        .withColumn(
            "cosine_sim", F.coalesce("cosine_sim", F.lit(float("nan")))
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 1,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int | None = None,
    max_broadcast_vectors: int | None = None,
) -> DataFrame:
    """Verified pairs with cosine >= threshold, candidates from sign-LSH
    buckets with OR-amplification across ``n_tables`` independent hash
    tables: a pair is a candidate if it collides in ANY table, so recall
    is 1 - (1 - p^k)^L for p = 1 - theta/pi, k = n_planes, L = n_tables.
    One table of 8 planes suits near-identical thresholds (~0.95);
    moderate thresholds (~0.5) need several short tables (e.g. k=4, L=8
    gives ~0.8 recall at cos 0.45). Candidate volume and the bucketed
    table scale linearly in L — the standard LSH memory/recall trade.

    ``max_bucket`` (r6) is the quadratic-bomb valve: a DEGENERATE
    bucket — all-zero vectors, a constant-embedding failure upstream, a
    hub direction — contributes |bucket|² candidate pairs and can
    single-handedly dominate the job at scale. With a cap, (table,
    bucket) groups larger than ``max_bucket`` are EXCLUDED from
    candidate generation in that table (the FAISS ``max_codes``-style
    trade: a pair loses only the recall contributed by its over-cap
    tables, and OR-amplification means it still surfaces through any
    other shared table). Default ``None`` keeps exact legacy behavior;
    sized so honest buckets (~n/2^k) pass and only degenerate mass is
    skipped.

    ``max_broadcast_vectors`` (r13-opt) enables the broadcast-matrix
    verify strategy (:func:`_verify_pairs_broadcast`): when the vector
    table holds at most this many rows (262,144 = a 64-dim float64
    matrix of 134 MB, inside the guide's few-hundred-MB broadcast
    comfort zone), candidate pairs are verified by an Arrow kernel
    against ONE broadcast of the unit vectors instead of two per-pair
    vector joins + an interpreted 64-dim HOF fold; above the bound the
    probe is a LIMIT-capped collect and the operator falls back to the
    join path unchanged. Default ``None`` (off) on measurement, not
    caution: at this bench's operating point (~8 K vectors, ~1.1 M
    candidate pairs at sf0.1) BOTH verify variants are sub-second
    across 32 cores — the entry's cost lives in the candidate
    self-join/distinct — so the kernel's extra serial probe job made
    the end-to-end entry NO FASTER (interleaved A/B medians ~12 s vs
    ~8 s in a throttled band; verify-stage-only A/B with the candidate
    set persisted read 1.1 s vs 2.3 s). The swap wins where pair
    volume, not vector count, dominates — e.g. aggressive
    OR-amplification (small k, large L) pushing 10^8+ candidate pairs
    against a <=262 K vector table, where the per-pair HOF fold is the
    wall and the one-off probe amortizes. Bit-parity with the join
    path is pinned by ``test_embedding_neardup_verify_kernel_parity``
    for either setting."""
    planes = random_hyperplanes(dim, n_planes * n_tables, seed)
    # Buckets here are COARSE (2^n_planes of them), so a bucket holds many
    # vectors and the candidate set is a large self-join — the in-bucket
    # collect_list expansion used by minhash/simhash would build
    # multi-megabyte arrays per bucket row. Shape choices that matter:
    # 1. persist the bucketed table so plane projections run once, not
    #    once per join branch;
    # 2. pre-normalize each vector ONCE so per-pair verification is a
    #    bare dot product (the naive cosine recomputes both norms for
    #    every one of the O(B²) candidate pairs).
    # Shape choices that matter (r2 rework after the L>1 amplification
    # made the old vector-dragging join 6x slower):
    # 1. candidate generation is NARROW — the per-table self-join carries
    #    only (id, table, bucket), never the 64-double vectors, so the
    #    O(sum |bucket|^2) candidate blowup shuffles 24 bytes/row;
    # 2. `distinct` collapses the L-fold multi-table duplication BEFORE
    #    vectors attach and the dot product runs — each surviving pair is
    #    verified exactly once;
    # 3. vectors are pre-normalized ONCE (JVM transform), so per-pair
    #    verification is a bare zip_with dot product, and they attach via
    #    two equi-joins on id (AQE broadcasts the vector table when
    #    small; at scale it shuffle-joins on the id key).
    tables = F.array(*[
        sign_bucket(F.col(vec_col), planes[t * n_planes:(t + 1) * n_planes])
        for t in range(n_tables)
    ])
    # spread a narrow input before the CPU-heavy plane projections (the
    # single-file local corpus otherwise projects on one core; no-op at
    # real scale)
    df = _ensure_parallelism(df)
    bucketed = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tables).alias("__t", "__bucket"),
    )
    bucketed = persist_tracked(bucketed)  # both self-join branches reuse the plane projections
    a = bucketed.select(F.col("__id").alias("id_a"), "__t", "__bucket")
    b = bucketed.select(F.col("__id").alias("id_b"), "__t", "__bucket")
    if max_bucket is not None:
        over = (
            bucketed.groupBy("__t", "__bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("__t", "__bucket")
        )
        # over-cap groups are few by construction — broadcast anti-join
        a = a.join(F.broadcast(over), ["__t", "__bucket"], "anti")
        b = b.join(F.broadcast(over), ["__t", "__bucket"], "anti")
    # r13-opt (guide §2.5 / the semantic_dedup precedent): the verify
    # stage downstream is COMPUTE-bound (one 64-dim fold per candidate
    # pair) on ~16-byte rows, so AQE's byte-targeted coalescing fuses
    # it onto a handful of tasks (observed: 6 partitions for ~10^6
    # pairs; in long bench sessions as few as 1-2, reading 19 s where
    # the isolated triple reads 2.9). A user-specified repartition on
    # the pair key is exempt from coalescing and pins the verify
    # parallelism at every scale.
    n_part = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cand = (
        a.join(b, ["__t", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .repartition(n_part, "id_a", "id_b")
    )
    v = to_double_array(vec_col)
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    unit = df.select(
        F.col(id_col).alias("__id"),
        F.when(norm > 0, F.transform(v, lambda x: x / norm))
        .otherwise(v).alias("__u"),
    )
    if max_broadcast_vectors is not None:
        out = _verify_pairs_broadcast(
            cand, unit, float(threshold), int(max_broadcast_vectors)
        )
        if out is not None:
            return out
    # HOF fold deliberately (r13-opt finding): the dim-unrolled variant
    # is one unsplittable 64-term chain that failed Janino's method
    # limit inside this stage's join codegen (bhj_doConsume), degrading
    # the WHOLE verify stage to interpreted — measured 17 s vs 3.5 s
    # isolated triples. See OPTIMIZATION_r13.md §8.
    dot = F.aggregate(
        F.zip_with(F.col("__ua"), F.col("__ub"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(unit.select(F.col("__id").alias("id_a"),
                              F.col("__u").alias("__ua")), "id_a")
        .join(unit.select(F.col("__id").alias("id_b"),
                          F.col("__u").alias("__ub")), "id_b")
        .withColumn("cosine_sim", dot)
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def embedding_dedup(df: DataFrame, id_col: str, vec_col: str, **kw) -> DataFrame:
    """Embedding-cosine near-dup dedup, keep smallest id."""
    pairs = embedding_near_dup_pairs(df, id_col, vec_col, **kw)
    return _drop_matched(df, id_col, pairs)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    shingle_n: int = 3,
    shingle_kind: str = "word",
) -> DataFrame:
    """ASYMMETRIC near-dup (r7): directed (contained, container) pairs
    where >= ``threshold`` of the contained doc's shingles appear in
    the container — Jaccard CONTAINMENT |A∩B|/|A|, the measure that
    catches quotation/subset duplication the symmetric family misses
    (a short doc embedded verbatim in a long one has near-zero Jaccard
    but containment ≈ 1; exactly the shape of boilerplate reuse and
    quote-chains in a crawl).

    Prefix filtering adapts one-sidedly: only the CONTAINED side
    exposes a prefix (its ``floor((1-t)·|A|)+1`` smallest hashes — if
    a container holds ≥ t·|A| of A's shingles, at most (1-t)·|A| are
    missing, so at least one prefix element must be present: recall
    1.0, deterministic), while the container side streams ALL its
    shingle hashes into the candidate equi-join — the asymmetric
    price, bounded by corpus shingle volume, not |pairs|. Exact verify
    via ``array_intersect`` against t·|A|; emitted ``containment`` is
    an exact integer ratio in doubles (engine-identical). Self-pairs
    excluded; both directions can appear (A⊆B and B⊆A both real)."""
    sets = persist_tracked(
        shingle_sets(df, id_col, text_col, shingle_n, shingle_kind)
    )
    pre = sets.select(
        F.col(id_col).alias("contained_id"),
        F.explode(
            F.expr(
                "slice(array_sort(__sh), 1, "
                f"CAST(floor({1.0 - threshold} * size(__sh)) AS INT) + 1)"
            )
        ).alias("__p"),
    )
    full = sets.select(
        F.col(id_col).alias("container_id"),
        F.explode("__sh").alias("__p"),
    )
    cand = (
        pre.join(full, "__p")
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
    )
    sh_a = sets.select(
        F.col(id_col).alias("contained_id"), F.col("__sh").alias("__sh_a")
    )
    sh_b = sets.select(
        F.col(id_col).alias("container_id"), F.col("__sh").alias("__sh_b")
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    na = F.size(F.col("__sh_a"))
    return (
        cand.join(sh_a, "contained_id")
        .join(sh_b, "container_id")
        .filter(
            inter.cast("double") >= F.lit(float(threshold)) * na.cast("double")
        )
        .select(
            "contained_id",
            "container_id",
            (inter.cast("double") / na.cast("double")).alias("containment"),
        )
    )


def golden_record(
    df: DataFrame,
    key_col: str,
    order_col: str,
    attr_cols: list[str],
    *,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Survivorship merge (the MDM "golden record"): one row per key
    whose every attribute is that attribute's LATEST NON-NULL value by
    ``order_col`` — unlike :func:`keep_best_dedup` (which keeps one
    whole source row), each column is merged independently, so a
    freshly-updated email and an older-but-present phone both survive.

    One hash shuffle on the key with a ``max_by`` partial aggregation
    PER ATTRIBUTE: max_by(attr, struct(attr IS NOT NULL, order,
    tiebreaks)) ranks non-null presence first, then recency — null
    rows never beat older non-null rows, and the map-side combine
    collapses each partition to one candidate per (key, attr) before
    the exchange, so shuffle volume is O(distinct keys), never the
    history. ``tiebreak_cols`` (default: the key itself only) make
    equal-timestamp merges deterministic; pass the source's unique id
    when versions can tie. Also returns n_versions (group size) and
    last_seen (max order value)."""
    ties = [F.col(c) for c in (tiebreak_cols or [])]
    aggs = []
    for c in attr_cols:
        rank = F.struct(
            F.col(c).isNotNull().cast("int"),
            F.col(order_col),
            *ties,
        )
        aggs.append(F.max_by(F.col(c), rank).alias(c))
    return df.groupBy(key_col).agg(
        *aggs,
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.max(order_col).alias("last_seen"),
    )


def canonical_map(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    normalized: bool = True,
) -> DataFrame:
    """The dedup REDIRECT TABLE: every row mapped to its group's
    canonical id (smallest id per fingerprint) — what downstream
    systems actually consume when references must keep resolving after
    dedup (URL → canonical URL, doc → kept doc). :func:`exact_dedup` /
    :func:`normalized_dedup` return only the survivors; this returns
    the complete (id, canonical_id, is_canonical) mapping.

    Same scale contract as the dedup it mirrors: one fingerprint
    shuffle; the per-group min is a broadcast-free window over the
    grouped key (min as a partial-aggregated join would be two
    exchanges; the window reuses the one hash partitioning).
    ``normalized`` picks the whitespace/case-collapsed fingerprint
    (the :func:`normalized_dedup` rule) or the raw-text hash."""
    fp = (
        fingerprint(text_col)
        if normalized
        else F.md5(F.col(text_col).cast("binary"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__fp")
    out = df.select(F.col(id_col), fp.alias("__fp")).withColumn(
        "canonical_id", F.min(id_col).over(w)
    )
    return out.select(
        id_col,
        "canonical_id",
        (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
    )


def bag_fingerprint(text_col: str) -> Column:
    """Word-order-insensitive fingerprint: md5 over the SORTED
    normalized token multiset (duplicates kept — 'big big dog' and
    'big dog' differ). Catches title/name shuffles ('smith, john' vs
    'john smith') that the order-preserving :func:`fingerprint`
    treats as distinct. Pure codegen: split, sort_array, concat_ws,
    md5."""
    from streaming_data_pipeline_azure_spark.operators.text import (
        normalized_text,
    )

    toks = F.split(normalized_text(text_col), " ")
    return F.md5(
        F.concat_ws(" ", F.sort_array(toks)).cast("binary")
    )


def bag_dedup(
    df: DataFrame, id_col: str, text_col: str, *, with_group_size: bool = True
) -> DataFrame:
    """Exact dedup under the :func:`bag_fingerprint` equivalence
    (word-order-insensitive): smallest-id survivor per token-multiset
    group, optionally with the group size. Same scale shape as every
    exact dedup here — ONE 16-byte-fingerprint shuffle with min_by
    partial aggregation."""
    with_fp = df.withColumn("__fp", bag_fingerprint(text_col))
    cols = df.columns
    g = with_fp.groupBy("__fp").agg(
        F.min_by(F.struct(*cols), F.col(id_col)).alias("__v"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
    )
    out = g.select(
        *[F.col(f"__v.{c}").alias(c) for c in cols], "n_dups"
    )
    return out if with_group_size else out.drop("n_dups")


def tfidf_cosine_pairs(
    docs: DataFrame,
    *,
    threshold_pct: int = 50,
    max_df_ratio: int = 10,
    max_df_abs: int = 1000,
    cos_scale: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All (id_a < id_b) document pairs whose TF-IDF cosine similarity
    reaches ``threshold_pct``/100 — the weighted-lexical near-dup
    measure between Jaccard (set overlap, no weighting) and embedding
    cosine (dense, learned): rare shared vocabulary counts for much
    more than common shared vocabulary.

    Exactness (fully ORACLE-checkable — no floats anywhere): the idf
    is the INTEGER log2 ``⌊log2(N DIV df)⌋`` via the binary-length
    device, weights w = tf·idf are small integers, norms and dot
    products are exact DECIMAL(38,0) sums, and the threshold test is
    the cross-multiplied square compare ``10^4·num² ≥ pct²·na²·nb²``
    (num ≥ 0, so squaring preserves the inequality). Reported
    ``cos2_scaled = num²·cos_scale DIV (na²·nb²)`` is the exact
    floor-scaled SQUARED cosine. Magnitude envelope: w ≤ tf·63, so
    every product stays ≤ ~10^28 for docs up to 10^4 tokens — deep
    inside 38 digits at any corpus size (the earlier ratio-idf design
    overflowed at 10^5 docs; log2-idf is also simply the standard
    tf-idf shape).

    Scale valve: terms with df > min(N/``max_df_ratio``,
    ``max_df_abs``) are DROPPED FROM THE VECTORS (not just from
    candidate generation) — stopword-ish terms carry near-zero idf
    yet quadratic pair volume, so excluding them is both the classic
    prefix-filter trade and part of the measure's definition here
    (the oracle applies the identical cap). The ABSOLUTE cap is the
    one that matters at scale: on a sharded/multi-source corpus with
    per-shard vocabularies, a shard's stopwords are "rare"
    corpus-wide and sail through any N-relative cap while still
    carrying df² pair volume — measured as a 10× capture that never
    finished before max_df_abs existed (the LSH family's
    ``max_bucket`` lesson, re-learned on term buckets). Per-term pair
    volume is ≤ max_df_abs², and the shared-term equi-join shuffles
    (doc, term-hash) keys, never document text.

    Returns (id_a, id_b, n_shared_terms, cos2_scaled)."""
    if not 1 <= threshold_pct <= 100:
        raise ValueError("threshold_pct must be in [1, 100]")
    if max_df_ratio < 2:
        raise ValueError("max_df_ratio must be >= 2 (df cap below N)")
    if max_df_abs < 2:
        raise ValueError("max_df_abs must be >= 2")
    base = docs.select(
        F.col(id_col).alias("__id"), _norm_tokens(text_col).alias("__toks")
    )
    tf = (
        base.select("__id", F.explode("__toks").alias("__t"))
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    n_docs = base.count()
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    kept = (
        tf.join(
            dfreq.filter(
                (F.col("__df") * max_df_ratio <= n_docs)
                & (F.col("__df") <= max_df_abs)
            ),
            "__t",
        )
        .selectExpr(
            "__id",
            "__t",
            f"CAST(__tf * (length(bin({n_docs} DIV __df)) - 1) "
            "AS DECIMAL(38,0)) AS __w",
        )
    )
    norms = kept.groupBy("__id").agg(
        F.sum(F.col("__w") * F.col("__w")).alias("__n2")
    )
    a = kept.toDF("id_a", "__t", "__wa")
    b = kept.toDF("id_b", "__t", "__wb")
    num = (
        a.join(b, "__t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
            F.sum(F.col("__wa") * F.col("__wb")).alias("__num"),
        )
    )
    na = norms.toDF("id_a", "__na2")
    nb = norms.toDF("id_b", "__nb2")
    return (
        num.join(na, "id_a")
        .join(nb, "id_b")
        .filter(
            F.expr(
                f"10000 * __num * __num >= "
                f"{threshold_pct * threshold_pct} * __na2 * __nb2"
            )
        )
        .selectExpr(
            "id_a",
            "id_b",
            "n_shared_terms",
            f"CAST(__num * __num * {cos_scale} DIV (__na2 * __nb2) "
            "AS BIGINT) AS cos2_scaled",
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``k``-gram,
    slide a window of ``w`` consecutive gram hashes, and select each
    window's MINIMUM hash (ties broken to the RIGHTMOST position —
    the paper's robust-winnowing rule, which makes the selected set a
    deterministic function of content). Any substring match of length
    >= k + w - 1 tokens between two documents is GUARANTEED to share
    at least one selected fingerprint, while only ~2/(w+1) of grams
    are kept — the local, position-robust sampling that plain modulo
    selection (0 mod p) cannot guarantee.

    Portability: grams hash through the 32-bit md5-prefix device
    (`conv(substr(md5(gram),1,8),16,10)` — the feature-hash bucket
    hash), so the ENTIRE selection replays exactly in any SQL engine;
    unlike the xxhash64 MinHash family this fingerprint operator is
    fully oracle-checkable.

    Shape at scale: gram hash + windowed min are one scan with a
    WindowExec PARTITIONED BY document (window input bounded by doc
    length — never a global window); the only shuffle is the per-doc
    repartition the window needs. Docs with fewer than ``w`` k-grams
    contribute their single all-grams minimum (one truncated window
    at position 1); docs with fewer than ``k`` tokens contribute
    nothing (word_ngrams yields no grams — the span-family rule).

    Returns DISTINCT (id_col, fp_hash, fp_pos) selected fingerprints
    — join on fp_hash across documents for candidate near-dup pairs
    (every shared >= k+w-1-token span is caught; verify candidates
    with the exact-Jaccard family).
    """
    from streaming_data_pipeline_azure_spark.operators.corpus import (
        _norm_tokens,
        word_ngrams,
    )
    from pyspark.sql import Window

    if k < 1 or w < 1:
        raise ValueError(
            f"winnow_fingerprints: k={k} and w={w} must be >= 1"
        )
    base = df.select(F.col(id_col), _norm_tokens(text_col).alias("__toks"))
    grams = base.select(
        F.col(id_col),
        F.posexplode(word_ngrams(F.col("__toks"), k)).alias("__p0", "__g"),
    ).select(
        id_col,
        (F.col("__p0") + 1).alias("__pos"),
        F.conv(F.substring(F.md5(F.col("__g")), 1, 8), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    win = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    doc_w = Window.partitionBy(id_col)
    sel = (
        grams.select(
            F.col(id_col),
            "__pos",
            # struct min: smallest hash wins; hash tie -> smallest
            # negated position = RIGHTMOST occurrence (robust
            # winnowing's tie rule)
            F.min(
                F.struct(
                    F.col("__h").alias("h"),
                    (-F.col("__pos")).alias("np"),
                )
            )
            .over(win)
            .alias("__m"),
            F.count(F.lit(1)).over(doc_w).alias("__ng"),
        )
        # valid window starts only (the final w-1 positions start no
        # full window); short docs keep the single truncated start 1
        .filter(
            F.col("__pos")
            <= F.greatest(F.lit(1), F.col("__ng") - F.lit(w - 1))
        )
    )
    return sel.select(
        F.col(id_col),
        F.col("__m")["h"].alias("fp_hash"),
        (-F.col("__m")["np"]).cast("long").alias("fp_pos"),
    ).distinct()


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs from shared winnowing fingerprints —
    the MOSS pipeline's second half: documents sharing at least
    ``min_shared`` selected fingerprint HASHES are candidates (any
    pair sharing a >= k+w-1-token span shares >= 1; raising
    ``min_shared`` trades recall on short overlaps for precision).

    Scale shape — the LSH-banding join pattern: fingerprints group by
    hash, pairs generate WITHIN each hash bucket only (never
    all-pairs), and the per-pair shared count is a hash-keyed
    aggregate. A degenerate fingerprint shared by B docs contributes
    B(B-1)/2 candidate rows — the same mass the banded MinHash join
    carries, with the same valve (r12, VERDICT r11 #2, the
    ``embedding_near_dup_pairs`` pattern): with ``max_bucket`` set,
    fingerprint hashes shared by more than ``max_bucket`` documents
    are EXCLUDED from pair generation — one boilerplate license
    header fingerprinted across a 100 TB crawl otherwise detonates a
    single quadratic bucket. An excluded fingerprint also stops
    counting toward ``n_shared_fps`` (it carries no discriminating
    signal — exactly the stop-gram argument), so on degenerate
    corpora the valve trades recall ONLY on pairs whose entire
    overlap is boilerplate; on corpora with no over-cap bucket the
    output is IDENTICAL (planted-hub test pins both properties).
    Default ``None`` keeps exact legacy behavior and the oracle
    replay. Candidates are CANDIDATES: verify with the exact-Jaccard
    family (prefix_filter_jaccard_pairs) before dropping documents.

    The fingerprint pipeline (explode + per-doc window + distinct)
    feeds both self-join sides (three consumers with the valve on),
    and is persisted via ``persist_tracked`` (r12, ADVICE r11 —
    MEASURED, not assumed, per the copurchase falsified-persist
    precedent): without it AQE's runtime stage dedup ReusedExchanges
    only the pre-window doc-partitioned exchange, so the per-doc
    window + distinct re-run per branch; interleaved warm A/B at
    sf0.1 (5x each): persist median 1.89 s vs 2.14 s unpersisted —
    parity-to-ahead at gate scale, and the avoided double
    window/distinct grows with corpus size while the cached table is
    only (id, fp_hash) pairs.

    Returns (id_a, id_b, n_shared_fps) with id_a < id_b."""
    from streaming_data_pipeline_azure_spark.functions.cache import (
        persist_tracked,
    )

    fps = winnow_fingerprints(
        df, id_col, text_col, k=k, w=w
    ).select(F.col(id_col).alias("__id"), "fp_hash").distinct()
    fps = persist_tracked(fps)
    if max_bucket is not None:
        # over-cap fingerprint hashes are few by construction (they
        # are the corpus' top-frequency fingerprints) — broadcast
        # anti-join, same shape as embedding_near_dup_pairs' valve
        over = (
            fps.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("fp_hash")
        )
        fps = fps.join(F.broadcast(over), "fp_hash", "anti")
    a = fps.select(F.col("__id").alias("id_a"), F.col("fp_hash").alias("__h"))
    b = fps.select(F.col("__id").alias("id_b"), F.col("fp_hash").alias("__h"))
    return (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= F.lit(int(min_shared)))
    )


def repeated_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Per-document repeated-substring exposure — the diagnostic half
    of exact substring deduplication (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022): a word
    ``n``-gram occurring ``min_count``+ times ANYWHERE in the corpus
    (other documents or elsewhere in the same one — the suffix-array
    formulation's any-repeat semantics) is a *duplicated gram*, and a
    maximal run of consecutive duplicated gram positions is exactly a
    repeated SPAN of ``run + n - 1`` tokens that the dedup pass would
    cut. Lee et al. report such memorized spans dominate LM
    regurgitation; this operator measures each document's exposure
    before anything is dropped.

    Returns one row per document with >= 1 ``n``-gram:
    (id_col, n_grams, n_dup_grams, max_dup_run, max_dup_span_tokens)
    — max_dup_span_tokens = max_dup_run + n - 1 (0 when clean).

    Shape at 100 TB: gram keys are full md5 hex strings (exact — no
    collision caveat; at petabyte gram counts you'd pack the 128 bits
    into two longs, same algebra), counted by ONE hash aggregate that
    combines map-side onto the O(distinct grams) key domain, then
    re-joined to gram positions on the same key (shuffle join; both
    sides hash-partition on the gram). The run detection is the
    gaps-and-islands window PARTITIONED BY document (input bounded by
    doc length — never global). The only quadratic-free corpus-wide
    structure is the count table; no pair generation happens at all.
    """
    from pyspark.sql import Window

    from streaming_data_pipeline_azure_spark.operators.corpus import (
        _norm_tokens,
        word_ngrams,
    )

    if n < 1 or min_count < 2:
        raise ValueError(
            f"repeated_ngram_stats: n={n} must be >= 1 and "
            f"min_count={min_count} must be >= 2"
        )
    df = _ensure_parallelism(df)  # 1-file corpus would explode on 1 core
    grams = (
        df.select(F.col(id_col), _norm_tokens(text_col).alias("__toks"))
        .select(
            id_col,
            F.posexplode(word_ngrams(F.col("__toks"), n)).alias("__p0", "__g"),
        )
        .select(id_col, (F.col("__p0") + 1).alias("__pos"), F.md5("__g").alias("__h"))
    )
    counts = grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__cnt"))
    marked = grams.join(counts, "__h").select(
        id_col,
        "__pos",
        (F.col("__cnt") >= min_count).alias("__dup"),
    )
    per_doc = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.col("__dup").cast("long")).cast("long").alias("n_dup_grams"),
    )
    w = Window.partitionBy(id_col).orderBy("__pos")
    runs = (
        marked.filter("__dup")
        .withColumn("__grp", F.col("__pos") - F.row_number().over(w))
        .groupBy(id_col, "__grp")
        .agg(F.count(F.lit(1)).alias("__len"))
        .groupBy(id_col)
        .agg(F.max("__len").cast("long").alias("max_dup_run"))
    )
    return per_doc.join(runs, id_col, "left").select(
        id_col,
        "n_grams",
        "n_dup_grams",
        F.coalesce(F.col("max_dup_run"), F.lit(0)).cast("long").alias("max_dup_run"),
        F.when(
            F.coalesce(F.col("max_dup_run"), F.lit(0)) > 0,
            F.coalesce(F.col("max_dup_run"), F.lit(0)) + F.lit(n - 1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("max_dup_span_tokens"),
    )


def repeated_span_cut_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """The ACTIONABLE half of exact substring deduplication (Lee et
    al., ACL 2022) — where :func:`repeated_ngram_stats` measures
    exposure, this emits the per-document CUT PLAN: every duplicated
    ``n``-gram position covers tokens ``[pos, pos+n-1]``; the union of
    those intervals (overlapping OR adjacent intervals merge — they
    cut as one contiguous span) is exactly the text the dedup pass
    removes. Returns per document: how many disjoint spans get cut,
    how many tokens they cover, and what survives.

    Interval union is the classic sort + running-max sweep, expressed
    as two windows PARTITIONED BY document (input bounded by doc
    length): a position starts a NEW span iff it exceeds the running
    max end of all earlier intervals by more than 1; the cumulative
    flag sum is the span id; span extents aggregate per (doc, span).
    All arithmetic is exact BIGINT — the plan hash-replays in any SQL
    engine.

    Returns (id_col, n_tokens, n_grams, n_cut_spans, tokens_cut,
    tokens_kept) for every document with >= 1 ``n``-gram.
    """
    from pyspark.sql import Window

    from streaming_data_pipeline_azure_spark.operators.corpus import (
        _norm_tokens,
        word_ngrams,
    )

    if n < 1 or min_count < 2:
        raise ValueError(
            f"repeated_span_cut_plan: n={n} must be >= 1 and "
            f"min_count={min_count} must be >= 2"
        )
    df = _ensure_parallelism(df)
    base = df.select(F.col(id_col), _norm_tokens(text_col).alias("__toks"))
    grams = base.select(
        id_col,
        F.size("__toks").cast("long").alias("__nt"),
        F.posexplode(word_ngrams(F.col("__toks"), n)).alias("__p0", "__g"),
    ).select(
        id_col,
        "__nt",
        (F.col("__p0") + 1).alias("__pos"),
        F.md5("__g").alias("__h"),
    )
    counts = grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__cnt"))
    marked = grams.join(counts, "__h").select(
        id_col, "__nt", "__pos", (F.col("__cnt") >= min_count).alias("__dup")
    )
    per_doc = marked.groupBy(id_col).agg(
        F.max("__nt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
    )
    w = Window.partitionBy(id_col).orderBy("__pos")
    dup = marked.filter("__dup").select(
        id_col, "__pos", (F.col("__pos") + F.lit(n - 1)).alias("__end")
    )
    flagged = dup.withColumn(
        "__new",
        F.when(
            F.col("__pos")
            > F.coalesce(
                F.max("__end").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(-1),
            )
            + 1,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "__span",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = flagged.groupBy(id_col, "__span").agg(
        (F.max("__end") - F.min("__pos") + 1).cast("long").alias("__len")
    )
    cut = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_cut_spans"),
        F.sum("__len").cast("long").alias("tokens_cut"),
    )
    return per_doc.join(cut, id_col, "left").select(
        id_col,
        "n_tokens",
        "n_grams",
        F.coalesce(F.col("n_cut_spans"), F.lit(0)).cast("long").alias("n_cut_spans"),
        F.coalesce(F.col("tokens_cut"), F.lit(0)).cast("long").alias("tokens_cut"),
        (F.col("n_tokens") - F.coalesce(F.col("tokens_cut"), F.lit(0)))
        .cast("long")
        .alias("tokens_kept"),
    )


def apply_span_cuts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """The APPLY stage of exact substring deduplication (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL
    2022) — materializes the cleaned corpus that
    :func:`repeated_span_cut_plan` only plans: every token covered by
    a duplicated-``n``-gram interval (overlapping/adjacent intervals
    merged) is removed, and the survivors re-join into the cleaned
    normalized-token text. This is the operator a training-data
    pipeline actually runs between the diagnostic and export.

    EVERY input document comes back exactly once — documents shorter
    than ``n`` tokens have no grams, hence no cuts, and pass through
    whole (the plan entry's per-gram-doc grain differs deliberately:
    a diagnostic reports only measurable docs, an apply must not drop
    rows).

    The cut intervals are the plan's gaps-and-islands sweep (two
    windows PARTITIONED BY document — grain-bounded); the apply is a
    per-doc fold with NO extra shuffle beyond one join of the merged
    span lists back to the token arrays on the document key: spans
    collapse to a sorted per-doc array (O(spans) <= O(doc length)),
    and the kept text is gap SLICING — `zip_with` over span ends
    [0,e1..ek] and starts [s1..sk,nt+1] emits each uncovered slice,
    flatten + join rebuilds the text in one pass, O(tokens + spans)
    per doc (never tokens x spans).

    Returns (id_col, n_tokens, n_cut_spans, tokens_cut, tokens_kept,
    kept_text) for EVERY document; kept_text is the cleaned
    NORMALIZED token stream (the stream the dedup pass operates on),
    '' when the whole document is cut.
    """
    from pyspark.sql import Window

    from streaming_data_pipeline_azure_spark.operators.corpus import (
        _norm_tokens,
        word_ngrams,
    )

    if n < 1 or min_count < 2:
        raise ValueError(
            f"apply_span_cuts: n={n} must be >= 1 and "
            f"min_count={min_count} must be >= 2"
        )
    df = _ensure_parallelism(df)
    base = df.select(F.col(id_col), _norm_tokens(text_col).alias("__toks"))
    grams = base.select(
        id_col,
        F.posexplode(word_ngrams(F.col("__toks"), n)).alias("__p0", "__g"),
    ).select(
        id_col,
        (F.col("__p0") + 1).alias("__pos"),
        F.md5("__g").alias("__h"),
    )
    counts = grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__cnt"))
    dup = (
        grams.join(counts, "__h")
        .filter(F.col("__cnt") >= int(min_count))
        .select(id_col, "__pos", (F.col("__pos") + F.lit(n - 1)).alias("__end"))
    )
    w = Window.partitionBy(id_col).orderBy("__pos")
    flagged = dup.withColumn(
        "__new",
        F.when(
            F.col("__pos")
            > F.coalesce(
                F.max("__end").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(-1),
            )
            + 1,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "__span",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = flagged.groupBy(id_col, "__span").agg(
        F.min("__pos").cast("long").alias("s"),
        F.max("__end").cast("long").alias("e"),
    )
    # per-doc sorted span array: O(disjoint spans) <= O(doc tokens)
    # per group, the documented collect_list grain bound
    doc_spans = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("s"), F.col("e")))
        ).alias("__spans")
    )
    joined = base.join(doc_spans, id_col, "left")
    nt = F.size("__toks").cast("long")
    sp = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<s:bigint,e:bigint>>"),
    )
    # gap slicing: uncovered slice i runs (ends0[i]+1 .. starts1[i]-1)
    ends0 = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(sp, lambda x: x["e"]),
    )
    starts1 = F.concat(
        F.transform(sp, lambda x: x["s"]), F.array(nt + F.lit(1))
    )
    kept = F.flatten(
        F.zip_with(
            ends0,
            starts1,
            lambda e, s: F.slice(
                F.col("__toks"),
                (e + 1).cast("int"),
                F.greatest(F.lit(0).cast("long"), s - e - 1).cast("int"),
            ),
        )
    )
    return joined.select(
        id_col,
        nt.alias("n_tokens"),
        F.size(sp).cast("long").alias("n_cut_spans"),
        F.aggregate(
            sp,
            F.lit(0).cast("long"),
            lambda acc, x: acc + x["e"] - x["s"] + 1,
        ).alias("tokens_cut"),
        F.size(kept).cast("long").alias("tokens_kept"),
        F.array_join(kept, " ").alias("kept_text"),
    )
