"""Deduplication operator family for large-scale training-data pipelines.

Beyond the reference's URL-seen dedup (crawler.c:447-484 == the anti-join in
operators/common.py), these are the content-level dedup operators a 100 TB
corpus pipeline needs. All are pure-Column (codegen) implementations over a
documents table, each with an exactly-matching ANSI-SQL oracle (DuckDB) -
see __spark_entry__.py.

Portability contract: every hash is PHASH(s) = first 15 hex chars of md5(s)
as a 64-bit int - bit-identical in Spark (conv) and DuckDB (0x cast), so
MinHash/SimHash signatures agree across engines. MinHash uses the salted-
hash family h_j(s) = PHASH(j || ':' || s) (no modular multiplication -
avoids 64-bit overflow divergence between engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernel.text import TOKEN_SPLIT_REGEX

NUM_PERM = 12          # minhash permutations
LSH_BANDS = 4          # bands of rows each
LSH_ROWS = NUM_PERM // LSH_BANDS
SIMHASH_BITS = 32
SHINGLE_K = 3


def phash_col(s: Column) -> Column:
    """Portable 60-bit hash: int(md5(s)[:15], 16)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def phash_sql(expr: str) -> str:
    """The DuckDB-side rendering of phash_col."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def tokens_simple_col(text: Column) -> Column:
    """Whitespace/punct token array (same class as the index tokenizer but
    case-preserving; dedup operates on raw surface forms)."""
    return F.filter(F.split(text, TOKEN_SPLIT_REGEX), lambda t: F.length(t) > 0)


def doc_shingles(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) exploded k-shingle stream. The token array is
    materialized behind a projection boundary FIRST: with the tokenizer
    inlined into the slice lambda, whole-stage codegen re-evaluates the
    split for every shingle position (no common-subexpression elimination
    across array lambdas) - the two-step shape runs the sf0.1 shingle
    explode in 0.7 s where the one-expression shape needs 4.2 s."""
    # spread_narrow_input: a single-row-group parquet table scans as ONE
    # task (unsplittable input, guide §2.5) and the whole shingle+md5
    # pipeline then runs on one core. Interleaved A/B at sf0.1: ngram
    # 1.55 -> 1.01 s, minhash_lsh_pairs 0.91 -> 0.74, dedup_components
    # 1.22 -> 1.05 with the spread; the lighter doc_tokens/simhash
    # kernels LOSE from the extra exchange and stay unwrapped.
    from .index import spread_narrow_input

    toked = spread_narrow_input(docs).select(
        F.col(id_col).alias("doc_id"),
        tokens_simple_col(F.col(text_col)).alias("_toks"))
    n = F.size(F.col("_toks"))
    # a doc with fewer than k tokens has NO shingles (the DuckDB oracle's
    # lead()-NULL semantics). The guard matters: sequence(1, 0) is the
    # DESCENDING array [1, 0] in Spark, and slice(_, 0, k) throws - so an
    # unguarded short doc crashed the whole shingle stage
    idx = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))) \
        .otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx,
                     lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, k)))
    return (toked.select("doc_id", F.explode(sh).alias("shingle"))
            .where(F.col("shingle") != ""))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact content dedup: keep the smallest id per md5(text) group.
    (hash-groupBy; at 100 TB this is one shuffle on the 16-byte digest,
    never on the document bodies.) Returns (doc_id, content_hash, group_size).
    """
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"),
             F.count("*").alias("group_size"))
        .select("doc_id", "content_hash", "group_size")
    )


def phash32_col(s: Column) -> Column:
    """32-bit base hash for the minhash permutation family:
    int(md5(s)[:8], 16)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def phash32_sql(expr: str) -> str:
    """The DuckDB-side rendering of phash32_col."""
    return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"


# universal-hash permutation family over the 32-bit base (the datasketch
# construction): mh_j = min((A_j*h + B_j) mod P). P is the first prime
# above 2^32; A_j < 2^30 keeps A_j*h < 2^62 - exact signed-64 math in
# both Spark and DuckDB. Constants are seeded so any engine regenerates
# (or inlines) the same integers - this is what keeps the minhash gates
# oracle-checkable.
MH_PRIME = 4294967311


def mh_coeffs(num_perm: int = NUM_PERM) -> list[tuple[int, int]]:
    import random

    out = []
    for j in range(num_perm):
        rng = random.Random(f"mh:{j}")
        out.append((rng.randrange(1, 1 << 30), rng.randrange(0, MH_PRIME)))
    return out


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       num_perm: int = NUM_PERM) -> DataFrame:
    """(doc_id, mh_0..mh_{n-1}): one explode + one grouped aggregation with
    num_perm min() columns - the signature computes in a single shuffle.

    Permutation family: ONE md5 per shingle (32-bit base), then
    mh_j = min((A_j*h + B_j) mod P) with seeded per-j constants - proper
    independent universal-hash permutations at 1/12th the hashing cost of
    the naive per-j salted-md5 form (hashing dominates the signature
    stage at corpus scale).

    NEGATIVE RESULT (r6, recorded so nobody retries it): a zero-shuffle
    per-row form - materialize the shingle-hash array behind projection
    boundaries, then mh_j = array_min(transform(_hs, h -> (A_j*h+B_j)%P))
    - measured 4x SLOWER at sf0.1 (minhash_lsh_pairs 1.06 -> 4.38 s,
    dedup_components 1.49 -> 5.25 s) despite removing the exchange. Two
    reasons, visible in its optimized plan: higher-order array functions
    evaluate INTERPRETED (lambdafunction blocks whole-stage codegen and
    allocates a fresh array per transform - ~16 allocations/row), and the
    size(_shs) > 0 row filter is pushed below the projections where it
    re-inlines the whole tokenize+shingle pipeline a second time. The
    explode + partial-aggregation shape keeps every expression in codegen
    and its exchange carries only one pre-aggregated row per
    (doc, partition) - the same lesson as similarity.py's unrolled
    getItem dot."""
    sh = doc_shingles(docs, id_col, text_col)
    hashed = sh.select("doc_id", phash32_col(F.col("shingle")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MH_PRIME))
        .alias(f"mh_{j}")
        for j, (a, b) in enumerate(mh_coeffs(num_perm))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


MAX_BUCKET_SIZE = 10_000
MAX_SHINGLE_DF = 100_000


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_perm: int = NUM_PERM,
                      bands: int = LSH_BANDS,
                      max_bucket_size: int | None = MAX_BUCKET_SIZE) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.
    Returns (doc_a, doc_b, n_bands) with doc_a < doc_b.

    max_bucket_size bounds the within-bucket quadratic pair output (a
    10^5-document duplicate cluster lands in one bucket per band and would
    emit 5x10^9 pairs): buckets larger than the cap are dropped before pair
    generation. Giant clusters are the job of exact_dedup (one agg), not
    pairwise LSH; None disables the cap.

    Plan shape (guide §2.4 - remove shuffles outright): the inverted
    bucket table is ONE aggregation, groupBy(band, bucket) ->
    sorted collect_set(doc_id); the size cap is then a plain filter on the
    set size (the former shape needed a checkpointed bucket table feeding a
    hot-bucket aggregation, a broadcast anti-join AND a self-join - three
    extra jobs and two extra exchanges per run). Pairs come from a
    double-explode of each kept set (codegen, no join); a doc appears in
    exactly one bucket per band, so count(*) per (doc_a, doc_b) ==
    COUNT(DISTINCT band) and the distinct-aggregate machinery is skipped.
    Kept sets are bounded at 8*max_bucket_size bytes (80 KB at the
    default); an over-cap cluster's set exists only transiently inside the
    aggregation before its bucket is dropped - at 10^6 members that is an
    8 MB spill-able aggregation buffer, the accepted trade for removing
    two exchanges from every run."""
    sig = minhash_signatures(docs, id_col, text_col, num_perm)
    rows = num_perm // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows + r}").cast("string")
                for r in range(rows)]
        band_cols.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("_", *cols)).alias("bucket")))
    buckets = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")) \
        .select("doc_id", F.col("bk.band").alias("band"),
                F.col("bk.bucket").alias("bucket"))
    inv = (buckets.groupBy("band", "bucket")
           .agg(F.sort_array(F.collect_set("doc_id")).alias("_ds"))
           .where(F.size("_ds") >= 2))
    if max_bucket_size is not None:
        inv = inv.where(F.size("_ds") <= max_bucket_size)
    # ordered pairs via double explode: sort_array makes doc_a < doc_b a
    # cheap filter with deterministic content either way
    return (inv.select(F.explode("_ds").alias("doc_a"), "_ds")
            .select("doc_a", F.explode("_ds").alias("doc_b"))
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_bands")))


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): tf-weighted bit-vote simhash over tokens.
    bit_k = 1 iff sum(tf * (token_hash bit k ? 1 : -1)) > 0.

    Plan shape (guide §2.4): the vote sum is linear in tf -
    sum over distinct tokens of tf * sign == sum over token OCCURRENCES
    of sign - so the (doc_id, token) tf pre-aggregation (a full extra
    shuffle) is unnecessary: hash every occurrence and vote +-1 straight
    into ONE groupBy(doc_id) whose map-side partial aggregation collapses
    each partition to one row per doc before the exchange."""
    # NOT spread_narrow_input-wrapped: A/B measured the extra exchange
    # losing on this kernel (0.55 -> 0.71 s) - see doc_tokens' note
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_simple_col(F.col(text_col))).alias("token"),
    ).select("doc_id", phash_col(F.col("token")).alias("h"))
    votes = [
        F.sum(F.when(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v_{k}")
        for k in range(bits)
    ]
    voted = hashed.groupBy("doc_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for k in range(bits):
        sim = sim + F.when(F.col(f"v_{k}") > 0,
                           F.lit(1 << k).cast("long")).otherwise(F.lit(0))
    return voted.select("doc_id", sim.alias("simhash"))


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.8,
                          n_planes: int = 8, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          max_bucket_size: int | None = MAX_BUCKET_SIZE) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates restricted to
    same-sign-LSH-bucket vectors (never all-pairs), exact integer-quantized
    cosine on candidates, keep pairs with cos >= threshold. Returns
    (doc_a, doc_b, cos rounded 6) with doc_a < doc_b.

    Recall < 1 by construction (near-dups differing across a hyperplane are
    missed) - the standard trade at 10^10 rows; raise recall by lowering
    n_planes or probing neighbor buckets. The same bucket-size cap as
    minhash_lsh_pairs bounds within-bucket pair blowup."""
    from .similarity import hyperplane_lsh_buckets, int_dot, quant_col

    # slim (vec_id, bucket) table materialized once - feeds the hot-bucket
    # agg, the anti-join and the candidate join (see minhash_lsh_pairs)
    buckets = hyperplane_lsh_buckets(embeddings, n_planes=n_planes,
                                     id_col=id_col, vec_col=vec_col) \
        .localCheckpoint(eager=False)
    if max_bucket_size is not None:
        hot = (buckets.groupBy("bucket").agg(F.count("*").alias("_n"))
               .where(F.col("_n") > max_bucket_size).select("bucket"))
        buckets = buckets.join(F.broadcast(hot), "bucket", "left_anti")
    # the checkpointed table carries each vector's norm, computed ONCE per
    # row instead of once per candidate pair side; dots are exact long
    # sums (similarity.int_dot), so cosines are bit-identical
    wb = (embeddings.select(F.col(id_col).alias("vec_id"),
                            quant_col(F.col(vec_col)).alias("v"))
          .join(buckets, "vec_id")
          .withColumn("nrm", F.sqrt(
              int_dot(F.col("v"), F.col("v")).cast("double")))
          .localCheckpoint(eager=False))  # reused by both join sides
    a = wb.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"),
                  F.col("nrm").alias("na"), "bucket")
    b = wb.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"),
                  F.col("nrm").alias("nb"), "bucket")
    dot = int_dot(F.col("va"), F.col("vb")).cast("double")
    return (a.join(b, "bucket")
            .where(F.col("doc_a") < F.col("doc_b"))
            .withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 6))
            .where(F.col("cos") >= threshold)
            .select("doc_a", "doc_b", "cos"))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = SHINGLE_K,
                        threshold: float = 0.5,
                        max_shingle_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """Exact shingle-set Jaccard over pairs sharing >= 1 shingle, via the
    inverted shingle->doc index (never all-pairs). Returns
    (doc_a, doc_b, jaccard rounded to 6) with doc_a < doc_b, j >= threshold.

    max_shingle_df drops boilerplate shingles shared by more than that many
    documents BEFORE pair generation (a shingle with df=10^6 alone would
    emit 5x10^11 pair rows). Jaccard is then computed over the pruned
    shingle universe - doc sizes count only surviving shingles, so the
    measure stays a true Jaccard on that universe (standard stop-shingle
    removal). None disables the cap.

    Plan shape (guide §2.4 - remove shuffles outright): shingles collapse
    to 60-bit hashes, then ONE aggregation builds the inverted index
    groupBy(shingle) -> sorted collect_set(doc_id): the set dedups
    (doc, shingle) for free (the former global .distinct() exchange is
    gone), df == size of the set so the boilerplate cap is a plain filter
    (the former hot-df aggregation + broadcast anti-join jobs are gone),
    and candidate pairs come from a codegen double-explode of each kept
    set instead of a self-join (two more exchanges gone). Per-doc sizes
    re-derive from the kept sets (one checkpoint read). Kept sets are
    bounded at 8*max_shingle_df bytes; an over-cap shingle's set exists
    only transiently inside the aggregation before the filter drops it -
    a spill-able buffer, the accepted trade for three fewer exchanges."""
    sh = (doc_shingles(docs, id_col, text_col, k)
          .select("doc_id", phash_col(F.col("shingle")).alias("shingle")))
    inv = (sh.groupBy("shingle")
           .agg(F.sort_array(F.collect_set("doc_id")).alias("_ds")))
    if max_shingle_df is not None:
        inv = inv.where(F.size("_ds") <= max_shingle_df)
    # the kept inverted index feeds BOTH the per-doc sizes and the pair
    # stream - checkpoint or the whole shingle pipeline runs twice
    inv = inv.localCheckpoint(eager=False)
    # sizes joins the pair stream TWICE (doc_a and doc_b side); the two
    # broadcast builds are not exchange-reused (different output aliases),
    # so checkpoint the tiny table or the explode+agg runs twice
    sizes = (inv.select(F.explode("_ds").alias("doc_id"))
             .groupBy("doc_id").agg(F.count("*").alias("n_sh"))
             .localCheckpoint(eager=False))
    pairs = (
        inv.where(F.size("_ds") >= 2)
        .select(F.explode("_ds").alias("doc_a"), "_ds")
        .select("doc_a", F.explode("_ds").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        pairs
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn("jaccard", F.round(
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(pairs: DataFrame, nodes: DataFrame,
                         src: str = "doc_a", dst: str = "doc_b",
                         id_col: str = "doc_id",
                         max_iters: int = 50) -> DataFrame:
    """Near-dup CLUSTER ids from candidate pairs: (doc_id, component, keep)
    where component = the smallest doc_id reachable through the pair graph
    (singletons label themselves) and keep marks the canonical survivor -
    the step that turns any pair family's edges (minhash LSH, n-gram
    Jaccard, cosine near-dup) into an actual deduplicated corpus.

    Algorithm: min-label propagation to fixpoint - per iteration ONE
    join (labels x symmetric edges) + ONE min-aggregate; lineage is cut
    every iteration (localCheckpoint) so the plan does not grow with the
    iteration count. Convergence check (round-5 verdict #4): every node's
    new label = min(its old label, propagated labels) - the old labels sit
    inside the union - so per-node labels are monotonically non-increasing
    and sum(label) is unchanged iff NO label changed. One scalar aggregate
    on the new labels alone therefore detects the fixpoint, with no join
    against the previous iteration (was: join + count = a second shuffle
    job per iteration). The sum runs in decimal(38,0): at 10^10 nodes with
    64-bit labels an int64 sum would overflow. Converges in
    O(cluster diameter) rounds - near-dup clusters are shallow, so this is
    2-4 iterations in practice; the large-star/small-star variant is the
    drop-in upgrade if 10^6-node chains ever appear. Deterministic: labels
    are integer minima, independent of partitioning. Iterative -> the
    DuckDB oracle uses a recursive CTE (transitive closure + MIN) instead
    of one SQL query."""
    # LAZY edge checkpoint + plain labels scan: the first iteration's sum
    # action materializes the edge blocks as a side effect (reused by every
    # later iteration's join) - the former eager edge/label checkpoints
    # cost two extra driver-synchronized jobs before any propagation ran.
    # No .distinct(): every pair family emits unique (doc_a < doc_b) rows
    # (groupBy outputs), so the two symmetric halves are disjoint and the
    # union is already duplicate-free - the former distinct was a full
    # extra exchange + dedup that removed nothing. Duplicate edges from an
    # external caller would only repeat min() inputs (same labels, some
    # wasted join work), never change the result.
    edges = (pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
             .unionByName(pairs.select(F.col(dst).alias("a"),
                                       F.col(src).alias("b")))
             .localCheckpoint(eager=False))
    labels = nodes.select(F.col(id_col).alias("node"),
                          F.col(id_col).alias("label"))
    prev_sum = None
    for it in range(max_iters):
        if it == 0:
            # iteration-1 shortcut: labels are the identity (label == node),
            # so labels JOIN edges ON node = a degenerates to the edge list
            # itself - propagate (b, a) directly and skip the join stage.
            prop = edges.select(F.col("b").alias("node"),
                                F.col("a").alias("label"))
        else:
            prop = (labels.join(edges, labels["node"] == edges["a"])
                    .select(F.col("b").alias("node"), "label"))
        # lazy checkpoint + the sum action = ONE job per iteration: the
        # aggregate materializes the checkpoint as a side effect, and later
        # iterations reuse the checkpointed blocks
        new = (labels.unionByName(prop)
               .groupBy("node").agg(F.min("label").alias("label"))
               .localCheckpoint(eager=False))
        label_sum = new.agg(F.sum(F.col("label").cast("decimal(38,0)"))
                            .alias("s")).collect()[0]["s"]
        labels = new
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    return labels.select(F.col("node").alias(id_col),
                         F.col("label").alias("component"),
                         (F.col("node") == F.col("label")).alias("keep"))


def dedup_survivors(docs: DataFrame, components: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """Filter a corpus to each near-dup cluster's canonical survivor (the
    min-id member). components = connected_components(...) output; the
    join is on the id only, so document bodies never shuffle - the keep
    list co-partitions with the corpus on doc_id."""
    keep = components.where(F.col("keep")).select(id_col)
    return docs.join(keep, id_col)
