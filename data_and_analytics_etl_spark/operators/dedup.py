"""Deduplication operators for large-scale training-data pipelines.

The reference pipeline is at-least-once (data lands before the checkpoint
advances, CommCareAPIHandler.py:251-262), so downstream dedup is a
first-class engine capability (SURVEY §7.4 "At-least-once overlap"), and
the mandate adds near-duplicate detection for LLM corpus curation.

Scale design
------------
- Exact dedup is a hash aggregate (one shuffle on the dedup key); keyed
  keep-first is a single `row_number` window (one shuffle on the key).
- Near-dup (MinHash-LSH) never materializes all pairs: docs are exploded
  to (band, band_hash) buckets and candidates come from a self-equi-join
  on the bucket key — the classic banding scheme (Broder '97; Leskovec
  et al., "Mining of Massive Datasets" ch.3). Pair volume is bounded by
  bucket collisions, not n².
- Everything is JVM-side (`xxhash64`, higher-order array functions);
  no Python UDFs in any hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, Window


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Full-row (or subset-keyed) exact deduplication.

    One hash-aggregate shuffle on the dedup columns; for subset dedup the
    surviving row for each key is arbitrary — use :func:`keyed_dedup` when
    the winner must be deterministic.
    """
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def keyed_dedup(df: DataFrame, keys: list[str],
                order_by: list[Column]) -> DataFrame:
    """Keep exactly one deterministic row per key (keep-first semantics).

    ``order_by`` must be a total order within each key group (append a
    unique id as the last sort key); the first row in that order wins.
    Single shuffle on ``keys``; the window sort is per-partition.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


# ---------------------------------------------------------------- shingling

def with_word_shingles(df: DataFrame, text_col: str, n: int = 3,
                       out: str = "shingles") -> DataFrame:
    """Distinct word n-gram shingles of ``text_col`` as an array column.

    Built entirely from higher-order array functions (split → sequence →
    transform → array_distinct), so it stays inside whole-stage codegen.
    Documents with fewer than ``n`` words get an empty shingle set.
    """
    # The token array is LET-BOUND as a lambda variable (single-element
    # transform), not a projected column: CollapseProject inlines a
    # dropped intermediate column's defining expression into every
    # reference site, so a "__toks" helper column silently re-ran
    # split() once per reference — measured 7 s inside
    # span_duplication's distinct at sf0.1, and the same tax in every
    # shingle consumer that aggregates after exploding. A lambda
    # variable is evaluated exactly once per row no matter how often
    # the body references it, and no optimizer rule can substitute
    # through it. array_join(slice(t, i, n), ' ') emits the same string
    # as concat_ws over the n elements (split() yields no NULLs; both
    # keep empty strings) — equivalence pinned by pytest.
    def _shingle(t):
        npos = F.size(t) - (n - 1)
        return F.when(npos > 0, F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), npos),
                lambda i: F.array_join(F.slice(t, i, n), " "))
        )).otherwise(F.array().cast("array<string>"))

    shingles = F.element_at(
        F.transform(F.array(F.split(F.col(text_col), r"\s+")), _shingle), 1)
    # shingling is THE fan-out producer: guard against a single-partition
    # scan serializing every downstream signature/band/explode stage
    from .text import ensure_fanout_parallelism
    return ensure_fanout_parallelism(df).withColumn(out, shingles)


def jaccard_pairs(df: DataFrame, id_col: str, set_col: str,
                  threshold: float, block_col: str | None = None,
                  ) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (the small-scale baseline).

    Joins within ``block_col`` blocks (e.g. language) to avoid a full
    cross product; at 100 TB use :func:`minhash_lsh_pairs`, which replaces
    blocking with LSH buckets. Output: (id_a, id_b, jaccard), id_a < id_b.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(set_col).alias("set_a"),
                  *([F.col(block_col).alias("__blk")] if block_col else []))
    b = df.select(F.col(id_col).alias("id_b"), F.col(set_col).alias("set_b"),
                  *([F.col(block_col).alias("__blk")] if block_col else []))
    cond = F.col("id_a") < F.col("id_b")
    joined = (a.join(b, on="__blk" if block_col else None, how="inner")
              if block_col else a.crossJoin(b)).filter(cond)
    return (joined
            .withColumn("jaccard", _jaccard("set_a", "set_b"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def setsim_prefix_pairs(df: DataFrame, id_col: str, set_col: str,
                        threshold: float) -> DataFrame:
    """EXACT Jaccard >= threshold pairs via prefix filtering — the exact
    scale path of the near-dup family (AllPairs/PPJoin, Bayardo et al.
    WWW'07; Xiao et al. WWW'08).

    Same output contract as :func:`jaccard_pairs` (the all-pairs
    baseline: (id_a, id_b, jaccard), id_a < id_b, distinct-element set
    arrays), but candidate generation is a bucketed EQUI-JOIN on rare
    prefix tokens — never n², and unlike MinHash-LSH there is no recall
    loss: the prefix-filtering lemma guarantees every qualifying pair
    shares at least one prefix token.

    Why it's exact: J(A,B) >= t implies |A∩B| >= t·|A∪B| >= t·max(|A|,
    |B|), hence |A∩B| >= ceil(t·|X|) for each side X. If |A∩B| >= α the
    first |X| - α + 1 elements of X under ANY global total order must
    contain a shared element, so prefixes of length |X| - ceil(t·|X|) + 1
    (a superset of the needed prefix) collide for every qualifying pair.
    The order used is (corpus frequency asc, token) — rarest-first, so
    prefixes are built from the least-colliding tokens, which is what
    bounds candidate volume; any order is CORRECT, this one is FAST.

    Shuffle ledger (all equi-keyed, 100 TB-safe): explode → token-count
    agg (token) → count join-back (token) → per-id prefix window (id) →
    prefix self-join (token) → distinct pairs (id_a, id_b) → two verify
    joins (id). The per-id window sorts each document's tokens, never a
    global sort; no step is quadratic in corpus size.
    """
    from pyspark import StorageLevel

    base = (df.select(F.col(id_col).alias("__id"),
                      F.col(set_col).alias("__set"))
            .filter(F.size("__set") > 0)
            # read 3x (token explode + both verify sides): persist so
            # upstream shingling/normalization runs once, the same rule
            # as the MinHash signature frame
            .persist(StorageLevel.MEMORY_AND_DISK))
    toks = base.select("__id", F.size("__set").alias("__sz"),
                       F.explode("__set").alias("__tok"))
    freq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__n"))
    # prefix length |X| - ceil(t*|X|) + 1, ordered rarest-first; the
    # (count, token) pair IS the total order — no dense global rank
    # (which would need a single-task window over the whole vocabulary)
    w = Window.partitionBy("__id").orderBy("__n", "__tok")
    pref = (toks.join(freq, "__tok")
            .withColumn("__pos", F.row_number().over(w))
            .filter(F.col("__pos")
                    <= F.col("__sz")
                    - F.ceil(F.lit(threshold) * F.col("__sz")).cast("int")
                    + 1)
            .select("__tok", "__id", "__sz", "__pos"))
    a = pref.select(F.col("__tok").alias("__t"),
                    F.col("__id").alias("id_a"),
                    F.col("__sz").alias("__sa"),
                    F.col("__pos").alias("__pa"))
    b = pref.select(F.col("__tok").alias("__t"),
                    F.col("__id").alias("id_b"),
                    F.col("__sz").alias("__sb"),
                    F.col("__pos").alias("__pb"))
    # overlap requirement: J >= t  <=>  |A∩B| >= t·(|A|+|B|)/(1+t).
    # The 1e-9 slack only LOOSENS the bound (float ceil of an exact
    # integer ratio could round UP and wrongly prune, e.g. 6·0.5/1.5).
    alpha = F.ceil(F.lit(threshold) * (F.col("__sa") + F.col("__sb"))
                   / F.lit(1.0 + threshold) - F.lit(1e-9))
    cand = (a.join(b, "__t")
            .filter(F.col("id_a") < F.col("id_b"))
            # length filter: J >= t forces min-size >= t * max-size
            .filter(F.least("__sa", "__sb")
                    >= F.lit(threshold) * F.greatest("__sa", "__sb"))
            # PPJoin position filter: matching at sorted positions
            # (pa, pb) caps the remaining overlap at 1 + min(suffixes);
            # the pair's FIRST common token always passes, so pruning
            # late-position occurrences loses nothing (Xiao et al.)
            .filter(F.lit(1) + F.least(F.col("__sa") - F.col("__pa"),
                                       F.col("__sb") - F.col("__pb"))
                    >= alpha)
            .select("id_a", "id_b")
            .distinct())
    sa = base.select(F.col("__id").alias("id_a"),
                     F.col("__set").alias("set_a"))
    sb = base.select(F.col("__id").alias("id_b"),
                     F.col("__set").alias("set_b"))
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard", _jaccard("set_a", "set_b"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def _jaccard(set_a: str, set_b: str) -> Column:
    """round(|A∩B| / (|A|+|B|-|A∩B|), 6) for distinct-element arrays.

    Equals size(array_union)-based Jaccard exactly (integer arithmetic),
    but walks the pair's arrays once (intersect) instead of twice
    (intersect + union) — the verify stage is per-candidate-pair work,
    the hottest loop of the LSH pipeline.
    """
    inter = F.size(F.array_intersect(set_a, set_b))
    return F.round(
        inter.cast("double")
        / (F.size(set_a) + F.size(set_b) - inter), 6)


# ---------------------------------------------------------------- MinHash

def with_minhash_signature(df: DataFrame, set_col: str, num_hashes: int = 16,
                           out: str = "minhash",
                           hash_family: str = "xxhash64") -> DataFrame:
    """k independent MinHash values per row, as an array column.

    Hash families (both JVM-side, k passes over the element array, no
    Python):

    - ``xxhash64(seed_tag, element)`` (default) — fastest; array<bigint>.
      Empty sets hash to LONG_MAX sentinels so they never collide with
      real content.
    - ``md5('<j>|' || element)`` — array<string> of hex digests, min by
      lexicographic order. Slower, but PORTABLE: every SQL engine with
      md5() computes the identical signature, which is what makes the
      whole LSH pipeline oracle-checkable (see `dedup_minhash_lsh_md5`).
      Empty sets get a '~empty' sentinel ('~' > 'f' in ASCII, so it
      sorts after every real digest).
    """
    # Single traversal: fold the element array once, carrying all k
    # running minima and zip_with-ing each element's k hashes in
    # (k separate array_min(transform(...)) passes re-walk the array k
    # times — the fold benched 14% faster at k=16, identical output).
    # Empty sets keep the init sentinels, which never collide with real
    # content.
    if hash_family == "md5":
        init = F.array_repeat(F.lit("~empty"), num_hashes)

        def element_hashes(s: Column) -> Column:
            return F.array(*[F.md5(F.concat(F.lit(f"{j}|"), s))
                             for j in range(num_hashes)])
    elif hash_family == "xxhash64":
        init = F.array_repeat(F.lit(2 ** 63 - 1).cast("long"), num_hashes)

        def element_hashes(s: Column) -> Column:
            # hash-family index goes in as an extra hashed column — no
            # per-element string concatenation
            return F.array(*[F.xxhash64(F.lit(j), s)
                             for j in range(num_hashes)])
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")

    sig = F.aggregate(
        F.col(set_col), init,
        lambda acc, s: F.zip_with(acc, element_hashes(s),
                                  lambda a, b: F.least(a, b)))
    return df.withColumn(out, sig)


def minhash_lsh_pairs(df: DataFrame, id_col: str, set_col: str,
                      threshold: float = 0.5, num_hashes: int = 16,
                      bands: int = 8, hash_family: str = "xxhash64",
                      materialize: bool = True) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact Jaccard verification.

    Pipeline (all DataFrame ops, two shuffles):
      1. signature: k minhashes per doc (map-side only);
      2. banding: explode to (band_idx, band_hash) and self-join on the
         bucket key — candidates are docs agreeing on ALL rows of ≥1 band
         (P[candidate] ≈ 1-(1-j^r)^b, r = k/bands);
      3. verify: exact Jaccard on the candidate pairs only, filter to
         ``threshold``.
    Never computes the n² pair set; bucket-key self-join is
    shuffle-partitioned on band_hash so hot buckets spread via AQE skew
    handling.

    ``materialize`` (default True) persists the per-doc (id, set,
    signature) frame MEMORY_AND_DISK before fan-out: the plan reads it
    FOUR times (both sides of the bucket self-join, both verify-set
    joins), and without a persist each read re-runs the upstream
    shingling/tokenization — the most expensive per-doc work in the
    pipeline (measured 4x the scan cost at sf0.1). Disk-backed, so at
    cluster scale it spills rather than evicts hot executors; pass
    False to keep the plan fully lazy (e.g. when the caller already
    persisted its input). The cached blocks live until Spark evicts
    them or the caller clears the cache.
    """
    rows = num_hashes // bands
    sigd = with_minhash_signature(
        df.select(F.col(id_col), F.col(set_col)),
        set_col, num_hashes, out="__sig", hash_family=hash_family)
    if materialize:
        from pyspark import StorageLevel
        sigd = sigd.persist(StorageLevel.MEMORY_AND_DISK)
    if hash_family == "md5":
        band_hash = F.array(*[
            F.md5(F.concat_ws("|", *[F.element_at("__sig", i * rows + j + 1)
                                     for j in range(rows)]))
            for i in range(bands)])
    else:
        band_hash = F.array(*[
            F.xxhash64(*[F.element_at("__sig", i * rows + j + 1)
                         for j in range(rows)], F.lit(i))
            for i in range(bands)])
    # Buckets carry IDs ONLY: shuffling the shingle arrays through the
    # bands-way explode + self-join would move every document 2*bands
    # times; candidate pairs re-join to the (id, set) projection once,
    # after dedup, so each set array crosses the wire at most twice.
    buckets = (sigd.select(F.col(id_col).alias("__id"),
                           F.posexplode(band_hash).alias("band", "bhash")))
    cand = (buckets.alias("l")
            .join(buckets.alias("r"), ["band", "bhash"])
            .select(F.col("l.__id").alias("id_a"),
                    F.col("r.__id").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    sets = sigd.select(F.col(id_col).alias("__sid"),
                       F.col(set_col).alias("__sset"))
    pairs = (cand
             .join(sets, cand.id_a == sets.__sid)
             .withColumnRenamed("__sset", "set_a").drop("__sid")
             .join(sets, cand.id_b == sets.__sid)
             .withColumnRenamed("__sset", "set_b").drop("__sid"))
    return (pairs.withColumn("jaccard", _jaccard("set_a", "set_b"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------- SimHash

def simhash64(tokens: Column) -> Column:
    """64-bit SimHash (Charikar '02) of a token array, as a BIGINT column.

    Each token votes ±1 per bit of its xxhash64; the fingerprint sets bit i
    iff the vote sum is positive. Near-dup docs land within a small Hamming
    distance. Token hashes are materialized once, then 64 bit-fold passes
    run over the hash array — a single JVM expression tree, no Python.
    At extreme scale swap in a pandas_udf; this form benches fine because
    the per-row array is small relative to shuffle costs.
    """
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))

    def bit_vote(mask: int) -> Column:
        return F.aggregate(
            hashes, F.lit(0),
            lambda acc, h: acc + F.when(
                h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1))

    fp = F.lit(0).cast("long")
    for i in range(64):
        # Bit 63 is the long sign bit: its mask literal must be the
        # negative two's-complement value to stay in LongType range.
        mask = (1 << i) if i < 63 else -(1 << 63)
        fp = fp.bitwiseOR(
            F.when(bit_vote(mask) > 0, F.lit(mask).cast("long"))
             .otherwise(F.lit(0).cast("long")))
    return fp


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_portable(tokens: Column, bits: int = 16) -> Column:
    """Portable SimHash: bit i = parity of hex digit i of md5(token).

    Same vote-and-threshold construction as :func:`simhash64`, but the
    per-token bit source is ``ascii(substr(md5(token), i+1, 1)) % 2`` —
    an expression every SQL engine with md5() computes identically, which
    makes the fingerprint oracle-checkable (`dedup_simhash_md5`). Capped
    at md5's 32 hex digits; 16 bits is plenty for a correctness anchor
    (the xxhash64 simhash64 stays the throughput/precision path).
    """
    if not 1 <= bits <= 32:
        raise ValueError("bits must be in [1, 32]")
    digests = F.transform(tokens, lambda t: F.md5(t))

    def bit_vote(i: int) -> Column:
        return F.aggregate(
            digests, F.lit(0),
            lambda acc, d: acc + F.when(
                F.ascii(F.substring(d, i + 1, 1)) % 2 == 1, 1).otherwise(-1))

    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp.bitwiseOR(
            F.when(bit_vote(i) > 0, F.lit(1 << i).cast("long"))
             .otherwise(F.lit(0).cast("long")))
    return fp


# ------------------------------------------------------- dedup clusters

def dedup_clusters(pairs: DataFrame, vertices: DataFrame,
                   id_col: str = "doc_id", max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs: (id, cluster_rep).

    The last stage of a real dedup pipeline: pair output (MinHash-LSH /
    Jaccard verify) must collapse into GROUPS so one representative per
    component survives. Each round combines two DataFrame-join steps:

        propagate:  label(v) <- min(label(v), min over neighbor labels)
        jump:       label(v) <- label(label(v))   (pointer doubling)

    Propagation alone needs O(component diameter) rounds — a 10k-long
    near-dup chain (templated spam) would need 10k joins. The jump step
    re-reads each round's own labels, roughly doubling how far the
    component minimum has travelled, so convergence is O(log diameter)
    (the pointer-jumping trick of classic PRAM CC and the small-star /
    large-star family, Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14). Each round is two joins + one
    aggregate, all shuffling on the vertex id; the driver-side
    convergence check is one count over the changed set — data itself
    never leaves executors.

    Exiting via ``max_iter`` without a fixed point raises RuntimeError:
    partially propagated labels silently split clusters, which corrupts
    downstream keep-one-per-cluster dedup.

    ``vertices`` supplies the full id universe so singletons (no pair)
    appear with themselves as representative.
    """
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst"))))
    labels = vertices.select(F.col(id_col).alias("vid"),
                             F.col(id_col).alias("label"))
    # Loop-invariant edges are PRE-PARTITIONED on the join key and
    # persisted (r14, guide §2.4) instead of localCheckpoint'ed: a
    # checkpointed RDD reports UnknownPartitioning, so every round's
    # neighbor join re-exchanged the edge table — at scale that is a
    # pair-table shuffle per round. The persisted repartition("dst")
    # survives through InMemoryTableScan's outputPartitioning and the
    # per-round join adds NO edge-side exchange (plan-verified with
    # broadcast disabled to emulate the at-scale strategy:
    # ENSURE_REQUIREMENTS exchange on dst gone; only the one-time
    # REPARTITION_BY_COL cache build remains — OPTIMIZATION_r14.md
    # "Loop-invariant edge tables pre-partitioned on the join key";
    # local timing flat, 0.96 vs 0.98 s min). Labels keep the eager
    # checkpoint: they change every round, and the checkpoint is what
    # truncates the growing lineage.
    edges = edges.repartition("dst").persist(StorageLevel.MEMORY_AND_DISK)
    converged = False
    try:
        labels = labels.localCheckpoint(eager=True)
        for _ in range(max_iter):
            neighbor_min = (edges.join(labels, edges.dst == labels.vid)
                            .groupBy("src")
                            .agg(F.min("label").alias("nmin")))
            prop = (labels.join(neighbor_min,
                                labels.vid == neighbor_min.src, "left")
                    .select(F.col("vid"),
                            F.col("label").alias("__old"),
                            F.least(F.col("label"),
                                    F.coalesce(F.col("nmin"),
                                               F.col("label")))
                            .alias("__mid")))
            # pointer doubling: look up the label OF the new label
            # (labels are always vertex ids, so the self-join always
            # resolves; left join + coalesce guards ids outside the
            # vertex universe)
            ref = prop.select(F.col("vid").alias("__rvid"),
                              F.col("__mid").alias("__rlab"))
            updated = (prop.join(ref, prop.__mid == ref.__rvid, "left")
                       .select(F.col("vid"),
                               F.least(F.col("__mid"),
                                       F.coalesce(F.col("__rlab"),
                                                  F.col("__mid")))
                               .alias("label"),
                               F.col("__old")))
            updated = updated.withColumn(
                "__changed",
                F.col("label") != F.col("__old")).drop("__old")
            # materialize once per round: breaks the exponentially
            # growing lineage AND serves the convergence check from the
            # same pass. The changed-count rides the checkpoint job
            # itself via observe() (r13 optimization): the eager
            # localCheckpoint fires the CollectMetrics node, so obs.get
            # returns without a second action — one driver round trip
            # per round instead of two, and at cluster scale one fewer
            # full read of the label table.
            obs = Observation()
            updated = updated.observe(
                obs, F.sum(F.col("__changed").cast("long")).alias("n"))
            updated = updated.localCheckpoint(eager=True)
            changed = obs.get["n"]
            labels = updated.drop("__changed")
            if changed == 0:
                converged = True
                break
    finally:
        # labels are checkpoint-materialized, so the edge cache is free
        # on every exit path, the max_iter raise included
        edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not reach a fixed point in {max_iter} "
            "rounds — labels are only partially propagated (clusters "
            "would be silently split); raise max_iter")
    return labels.select(F.col("vid").alias(id_col),
                         F.col("label").alias("cluster_rep"))


def merge_minhash(sig_a: Column, sig_b: Column) -> Column:
    """Merge two MinHash signatures: elementwise minimum.

    min over a union distributes over the partition — sig(A ∪ B) =
    zip_min(sig(A), sig(B)) EXACTLY, for any split, either hash family
    (longs numerically, md5 digests lexicographically). That makes a
    MinHash signature a mergeable aggregate state in the
    operators/incremental.py sense: keep per-key signatures in a state
    table, fold each new batch in with one co-keyed merge, and the
    near-dup index never re-reads history — the signature of the full
    corpus-so-far is always available incrementally. Property-pinned in
    tests/test_llmdata.py (signature-of-union == merge-of-signatures,
    every split).
    """
    return F.zip_with(sig_a, sig_b, lambda x, y: F.least(x, y))


def containment_pairs(df: DataFrame, id_col: str, set_col: str,
                      threshold: float = 0.9) -> DataFrame:
    """Jaccard-CONTAINMENT near-dup pairs: |A∩B| / |A| ≥ threshold —
    the asymmetric criterion that catches a document swallowed whole
    by a longer one (quote-plus-commentary, boilerplate wrappers),
    which symmetric Jaccard misses when the containing doc is much
    larger.

    Candidate generation is a single-shingle equi-join (a pair with
    containment ≥ t > 0 shares ≥1 shingle) with ids-only through the
    shuffle, then one exact intersection recheck per candidate —
    bounded by shared-shingle mass, never |docs|². At 100 TB prefix
    filtering (setsim_prefix_pairs' ordering argument) or MinHash
    bucketing bounds the candidate mass further; this form is the
    exact baseline the sketch paths verify against. Output:
    (id_small, id_big, containment) with the SMALLER set first —
    both directions are checked, asymmetric by design.
    """
    sh = df.select(F.col(id_col).alias("id"),
                   F.array_distinct(F.col(set_col)).alias("s"))
    tok = sh.select("id", F.explode("s").alias("t"))
    cand = (tok.alias("a").join(tok.alias("b"), "t")
            .filter(F.col("a.id") != F.col("b.id"))
            .select(F.col("a.id").alias("id_small"),
                    F.col("b.id").alias("id_big"))
            .distinct())
    j = (cand
         .join(sh.select(F.col("id").alias("id_small"),
                         F.col("s").alias("s_small")), "id_small")
         .join(sh.select(F.col("id").alias("id_big"),
                         F.col("s").alias("s_big")), "id_big")
         .withColumn("containment",
                     F.size(F.array_intersect("s_small", "s_big"))
                     .cast("double") / F.size("s_small")))
    return (j.filter((F.col("containment") >= threshold)
                     & (F.size("s_small") <= F.size("s_big")))
            .select("id_small", "id_big", "containment"))


def survivorship(clusters: DataFrame, attrs: DataFrame,
                 quality_col: str, id_col: str = "doc_id",
                 cluster_col: str = "cluster_rep") -> DataFrame:
    """Pick the canonical document of each duplicate cluster by POLICY
    (highest ``quality_col``, id as the deterministic tie-break) — the
    survivorship step after detection (pairs) and clustering
    (connected components). "Keep the first" silently keeps whichever
    copy crawled first; real pipelines keep the longest / highest-
    quality copy and drop the rest (MDM survivorship; Penedo et al.
    RefinedWeb keep-longest).

    Input: (id, cluster_rep) from :func:`dedup_clusters` + an
    attribute frame carrying the quality column. Output adds
    ``is_survivor``; exactly one survivor per cluster by construction
    (row_number over a total order). One broadcast-or-shuffle join on
    the id + one per-cluster rank window — cluster count, not corpus
    size, bounds the window groups.
    """
    j = clusters.join(attrs.select(id_col, quality_col), id_col)
    w = Window.partitionBy(cluster_col).orderBy(
        F.desc(quality_col), F.asc(id_col))
    return j.withColumn("is_survivor", F.row_number().over(w) == 1)
