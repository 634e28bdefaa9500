"""Deduplication operators for training-data pipelines.

Exact, n-gram-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup —
each designed shuffle-lean for 100 TB corpora:

  - exact: hash-groupBy on a content digest — one shuffle on a 128-bit key,
    no text comparison.
  - n-gram Jaccard: shingle table → group-by-shingle pair generation (only
    documents sharing a shingle ever pair; one shuffle on the shingle, pairs
    emitted by an in-task array transform, no self-join).
  - MinHash LSH: all k signature mins computed in ONE pass over the shingle
    table (k aggregate columns, no k-way row explosion) → band buckets →
    per-band equi-joins for candidates → exact Jaccard verify on candidates
    only. Deterministic universal hashing (functions/hashing.py) keeps it
    bit-identical to the ANSI-SQL oracle.
  - SimHash: all 32 bit-votes as aggregate columns in one pass (no 32-way
    explosion); banded candidate join (pigeonhole) + exact Hamming verify.

All stages are built-in expressions (groupBy/join/array ops) — no Python
UDFs anywhere.

Operational sequencing at corpus scale: run :func:`exact_dedup` FIRST and
feed only canonical documents to the near-dup operators. LSH bucket
expansion (minhash bands, simhash bands) emits C(k,2) pairs per bucket in
one task — near-unique buckets by construction for *distinct* texts, but a
flood of byte-identical documents lands in one bucket and would expand
quadratically there. Exact dedup collapses those for the price of one
hash-groupBy, which is also the standard pipeline order (exact → near-dup).
The raw-shingle pair join (:func:`_join_cooccurrence_pairs`) is the one
stage facing naturally hot keys (stop-shingles), and it uses a join so AQE
can split them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing, text


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by md5(text); canonical doc = min id.
    Returns (digest, canonical_id, n_dupes)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col).alias("id"))
        .groupBy("digest")
        .agg(F.min("id").alias("canonical_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


def hashed_shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    with_h28: bool = False,
    partition_by_id: bool = True,
) -> DataFrame:
    """(id, h[, h28]) distinct shingles with the *string replaced by a 64-bit
    hash before the distinct shuffle* — the join/distinct key is 8 bytes
    instead of a ~20-40 byte string, and every downstream consumer (pair
    join, sizes, MinHash signatures) reuses this single exchange.

    xxhash64 collisions would merge two distinct shingles; at corpus scale
    (10^9 shingles) the expected number of colliding pairs is ~0.03 — far
    below any Jaccard-threshold sensitivity. ``with_h28`` adds the portable
    md5-based 28-bit hash (the MinHash base domain, which the SQL oracle
    defines over the shingle *string* — so it must be computed before the
    string is dropped).

    The DOCUMENT table is exchanged on ``id`` (unique — skew-free) BEFORE
    tokenization: the shuffle moves doc-count rows (not shingle-count), the
    CPU-heavy tokenize/ngram/hash projection is spread across all cores
    regardless of input split count (a packed parquet file can carry tens
    of thousands of documents per 128 MB split — bytes-based splitting
    underestimates text-processing cost), and hash-partitioning on ``id``
    satisfies the clustering requirement of BOTH the per-doc distinct
    (keys ``id, h`` ⊇ ``id``) and every downstream groupBy(id) (sizes,
    MinHash signatures) — so the whole per-doc pipeline runs on that one
    small exchange with no shingle-level shuffle at all.

    ``partition_by_id=False`` skips the exchange (callers that already
    partitioned, e.g. tests exercising raw explode plans)."""
    if partition_by_id:
        # explicit numPartitions: AQE would coalesce this tiny-BYTES
        # exchange to a few partitions, serializing the CPU-heavy
        # tokenize/hash projection that follows it
        df = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
    base = df.select(
        F.col(id_col).alias("id"),
        F.explode(text.word_ngrams(F.col(text_col), n)).alias("shingle"),
    )
    cols = [F.xxhash64("shingle").alias("h")]
    if with_h28:
        cols.append(hashing.portable_hash28(F.col("shingle")).alias("h28"))
    return base.select("id", *cols).dropDuplicates(["id", "h"])


# Auto-salting policy (hot_threshold="auto"): a key shared by k documents
# expands to k^2/2 pairs in the co-occurrence join; 256 docs/key (~32k
# pairs) is the per-key task-work bound above which the expansion is
# spread over salt buckets. WHICH keys exceed it is measured from a
# deterministic ~5% document sample (xxhash64(id) % MOD == 0) — cheap
# (the profile exchange carries 5% of the shingle table) and safe to
# approximate, because salting is RESULT-IDENTICAL either way
# (tests/test_dedup_adversarial.py): a missed hot key only loses the
# spread, a false positive only adds a harmless salt round-trip.
AUTO_HOT_DOC_COUNT = 256
AUTO_PROFILE_MOD = 20
# Driver-side cap on the collected hot-key set (the hottest keys win the
# salt; anything past the cap still has AQE's runtime skew split as the
# backstop). 4096 int64 keys is a ~32 KB literal — control-plane-sized.
MAX_AUTO_HOT_KEYS = 4096


def _join_cooccurrence_pairs(
    sh: DataFrame,
    key: str = "shingle",
    hot_threshold: int | str | None = None,
    salt_buckets: int = 16,
    carry_n: bool = False,
    length_filter: float | None = None,
) -> DataFrame:
    """(id_a, id_b, n_common) via self-join on the key.

    ``length_filter=t`` (requires ``carry_n``) drops matched rows whose
    size ratio makes jacc >= t impossible (jacc <= min/max, so
    t·max(n_a,n_b) <= min(n_a,n_b) is necessary — the AllPairs length
    bound) BEFORE the pair exchange/aggregate; at the sf1 q31 leg this
    cuts the 12.7M matched rows 24% for a row-local comparison. Results
    are identical for any caller that applies a jacc >= t filter after.

    ``carry_n=True`` additionally returns each side's per-doc key count
    as ``n_a``/``n_b`` (r10): the count is a window over the already
    id-partitioned shingle table (no extra exchange — only a +4-byte
    column on the key-join payload), and it rides the pair aggregation
    as two ``first()`` columns. Callers that need sizes for a
    similarity/containment score then compute it ROW-LOCALLY instead of
    sort-merge-joining the (pair-count-sized — 11.3M rows at the sf1
    q31 leg) pair table against a sizes table twice.

    For *hot* keys (a stop-shingle shared by thousands of docs) the join
    spreads the k² pair work across k build rows, and AQE skew-join splits
    oversized partitions — unlike group-and-explode, which packs one key's
    entire k² expansion into a single unsplittable task. Use this for raw
    shingles; use :func:`_cooccurrence_pairs` for near-unique keys (LSH
    buckets) where grouping is cheaper than a shuffle join.

    ``hot_threshold``: skew control for corpora with pathological keys
    (the adversarial fixture's 30%-hot shingle is the model). Keys held
    by more than ``hot_threshold`` documents are routed through
    :func:`joins.salted_join` — the hot key's k² expansion is spread over
    ``salt_buckets`` tasks by construction, independent of whether AQE's
    runtime skew split is available or applicable (AQE splits shuffle
    partitions, not broadcast-joined ones, and only after a size
    threshold trips). ``"auto"`` derives the hot-key set from a sampled
    frequency profile instead of an exact count pass (see
    AUTO_HOT_DOC_COUNT above). The hot-key set itself is outlier-small
    by definition and is broadcast to split the shingle stream; results
    are identical to the unsalted join (tests/test_dedup_adversarial.py
    asserts equality on the adversarial corpus).
    """
    pair_cols = ["id_a", "id_b"]
    if carry_n:
        from pyspark.sql import Window

        shw = sh.withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
        a = shw.select(
            F.col("id").alias("id_a"), F.col(key), F.col("__n").alias("__n_a")
        )
        b = shw.select(
            F.col("id").alias("id_b"), F.col(key), F.col("__n").alias("__n_b")
        )
        pair_cols = ["id_a", "id_b", "__n_a", "__n_b"]
    else:
        a = sh.select(F.col("id").alias("id_a"), F.col(key))
        b = sh.select(F.col("id").alias("id_b"), F.col(key))
    if hot_threshold == "auto":
        # Control-plane probe: the sampled profile's hot-key set comes to
        # the driver (same motion as the k-means init; outlier-small by
        # definition and capped below) so the COMMON case — no hot keys —
        # keeps the exact 2-branch plan of the unsalted join. Leaving the
        # salt branches in the plan unconditionally cost ~40% on the 10x
        # q31 even with zero hot keys (four probe joins against an empty
        # broadcast + a dead salted union).
        cutoff = max(2, AUTO_HOT_DOC_COUNT // AUTO_PROFILE_MOD)
        hot_rows = (
            sh.filter(F.pmod(F.xxhash64(F.col("id")), F.lit(AUTO_PROFILE_MOD)) == 0)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= cutoff)
            .orderBy(F.col("__n").desc(), key)
            .limit(MAX_AUTO_HOT_KEYS)
            .collect()
        )
        hot_threshold = None if not hot_rows else "auto-found"
        hot_key_values = [r[key] for r in hot_rows]
    if hot_threshold is None:
        matched = a.join(b, [key]).select(*pair_cols)
    else:
        from .joins import salted_join

        if hot_threshold == "auto-found":
            # literal in-list -> scan-local split, no key-set join at all
            is_hot = F.col(key).isin(hot_key_values)
            cold_a, cold_b = a.filter(~is_hot), b.filter(~is_hot)
            hot_a, hot_b = a.filter(is_hot), b.filter(is_hot)
        else:
            hot_keys = (
                sh.groupBy(key)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > hot_threshold)
                .select(key)
            )
            cold_a = a.join(F.broadcast(hot_keys), key, "left_anti")
            cold_b = b.join(F.broadcast(hot_keys), key, "left_anti")
            hot_a = a.join(F.broadcast(hot_keys), key, "left_semi")
            hot_b = b.join(F.broadcast(hot_keys), key, "left_semi")
        matched = (
            cold_a.join(cold_b, [key])
            .select(*pair_cols)
            .unionByName(
                salted_join(hot_a, hot_b, key, salt_buckets).select(*pair_cols)
            )
        )
    if length_filter is not None:
        assert carry_n, "length_filter requires carry_n"
        t = float(length_filter)
        matched = matched.filter(
            (F.col("__n_a") * t <= F.col("__n_b"))
            & (F.col("__n_b") * t <= F.col("__n_a"))
        )
    aggs = [F.count(F.lit(1)).alias("n_common")]
    if carry_n:
        aggs += [
            F.first("__n_a").alias("n_a"),
            F.first("__n_b").alias("n_b"),
        ]
    return (
        matched.filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(*aggs)
    )


def _cooccurrence_pairs(sh: DataFrame, key: str = "shingle") -> DataFrame:
    """(id_a, id_b, n_common) for documents sharing >= 1 key.

    Group-by-key then emit C(k,2) ordered pairs per key with a nested array
    transform (JVM-side) — one shuffle on the key, no self-join. Right for
    keys with small group sizes (LSH buckets, simhash bands); see
    :func:`_join_cooccurrence_pairs` for skew-prone keys.
    """
    grouped = sh.groupBy(key).agg(F.array_sort(F.collect_list("id")).alias("ids"))
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")).agg(
        F.count(F.lit(1)).alias("n_common")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    hot_shingle_threshold: int | str | None = "auto",
) -> DataFrame:
    """Near-duplicate pairs with word-n-gram Jaccard >= threshold.
    Returns (id_a, id_b, jacc) with id_a < id_b.

    One shuffle builds the hashed shingle table; sizes and the pair join
    both hang off it (ReusedExchange — verify with .explain).

    ``hot_shingle_threshold``: salting for shingles shared by more than
    this many docs (see :func:`_join_cooccurrence_pairs`) — results
    unchanged, hot-key pair expansion bounded by construction. Defaults
    to ``"auto"``: the hot-key set is measured from a sampled frequency
    profile, so a skewed corpus self-salts with no operator argument
    (VERDICT r04 item 7); pass an int for an explicit cutoff or ``None``
    to disable."""
    sh = hashed_shingle_table(df, id_col, text_col, n, partition_by_id=True)
    # sizes ride the pair join (carry_n) — the jacc score is row-local;
    # no sizes table, no post-aggregation joins over the pair-count-sized
    # inter table (r10: two SortMergeJoins of 11.3M rows gone at sf1)
    inter = _join_cooccurrence_pairs(
        sh,
        key="h",
        hot_threshold=hot_shingle_threshold,
        carry_n=True,
        length_filter=threshold,
    )
    return (
        inter.withColumn(
            "jacc",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", "jacc")
    )


def minhash_band_buckets(signatures: DataFrame, bands: int = 4) -> DataFrame:
    """(id, band, bucket) from wide signatures: bucket = md5 of the
    comma-joined minima of the band's rows."""
    k = len([c for c in signatures.columns if c.startswith("m")])
    rows_per_band = k // bands
    cols = []
    for b in range(bands):
        member = [F.col(f"m{i}").cast("string") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(",", *member)).alias("bucket"))
        )
    return signatures.select("id", F.explode(F.array(*cols)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_candidates(signatures: DataFrame, bands: int = 4) -> DataFrame:
    """Distinct candidate id pairs sharing any LSH band bucket — generated by
    group-by-bucket pair expansion (no self-join)."""
    banded = minhash_band_buckets(signatures, bands)
    return _cooccurrence_pairs(banded.select("id", F.concat_ws("|", "band", "bucket").alias("bb")), "bb").select(
        "id_a", "id_b"
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup: LSH candidates verified with exact
    n-gram Jaccard. Returns (id_a, id_b, jacc).

    The corpus is tokenized and shuffled exactly ONCE: a single groupBy(id)
    over the hashed shingle table computes the k signature minima, the
    shingle-set size, AND the doc's sorted shingle-hash array. Size rides
    through banding/pair expansion as a struct field; the exact-Jaccard
    verify is a doc-level join of candidate pairs against the shingle
    arrays with an in-task ``array_intersect`` — no shingle-level join, no
    pair-count aggregation. Per-doc array size is bounded by document
    length (8 bytes per distinct shingle), the same order as the document
    itself."""
    k = len(hashing.MINHASH_SEEDS)
    rows_per_band = k // bands
    sh = hashed_shingle_table(df, id_col, text_col, n, with_h28=True)
    sig = sh.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.collect_list("h").alias("hs"),
        *[
            F.min(hashing.minhash_value(F.col("h28"), i)).alias(f"m{i}")
            for i in range(k)
        ],
    )
    band_cols = []
    for b in range(bands):
        member = [
            F.col(f"m{i}").cast("string")
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        band_cols.append(
            F.concat_ws("|", F.lit(b), F.md5(F.concat_ws(",", *member)))
        )
    banded = sig.select(
        F.struct("id", "n_sh").alias("node"),
        F.explode(F.array(*band_cols)).alias("bb"),
    )
    grouped = banded.groupBy("bb").agg(
        F.array_sort(F.collect_list("node")).alias("nodes")
    )
    cands = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("nodes"),
                        lambda x, i: F.transform(
                            F.slice(F.col("nodes"), i + 2, F.size(F.col("nodes"))),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            F.col("p.a.n_sh").alias("n_a"),
            F.col("p.b.n_sh").alias("n_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # Doc-level verify: join the candidate pairs to the per-doc shingle
    # arrays and intersect in-task. No broadcast hints (cands/sigs are
    # unbounded at corpus scale; AQE broadcasts small ones at runtime).
    sets_a = sig.select(F.col("id").alias("id_a"), F.col("hs").alias("__ha"))
    sets_b = sig.select(F.col("id").alias("id_b"), F.col("hs").alias("__hb"))
    inter = (
        cands.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("__ha", "__hb")))
    )
    return (
        inter.withColumn(
            "jacc",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", "jacc")
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """SimHash: per-document ``bits``-wide fingerprint from token-hash bit
    votes weighted by occurrence count (non-distinct tokens — frequency
    weighting discriminates far better than set membership on small shared
    vocabularies). Returns (id, simhash).

    All ``bits`` votes are aggregate columns of one groupBy — no per-bit row
    explosion. The token explode + hash aggregate stays inside whole-stage
    codegen, the partial (map-side) aggregation collapses each document to
    ONE 33-column row before the exchange, and that exchange carries no more
    data than the LSH bucket stage needs anyway. (A zero-shuffle variant via
    higher-order ``aggregate`` over the token array was measured ~40% slower
    at sf0.1: Spark evaluates HOF lambdas per element outside codegen.)
    """
    # pre-exchange the DOCS on id (doc-count rows, skew-free): spreads the
    # CPU-heavy tokenize/md5 across all cores independent of input split
    # count, and makes the vote groupBy(id) exchange-free (same reasoning
    # as hashed_shingle_table)
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(text.tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", hashing.portable_hash64(F.col("tok")))
    # the per-bit vote aggregates and the fingerprint fold are built as
    # SQL strings (one JVM-side parse each) instead of ~160 composed
    # Column objects: the resolved expressions are identical, but the
    # Py4J construction chatter drops from ~1.2 s to ~0.15 s per build
    # (bench.py charges DataFrame construction as "build")
    votes = toks.groupBy("id").agg(
        *[
            F.expr(f"sum(((shiftright(h, {j}) & 1) * 2) - 1)").alias(f"s{j}")
            for j in range(bits)
        ]
    )
    fp_sql = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return votes.select("id", F.expr(f"CAST(0 AS BIGINT) + {fp_sql}").alias("simhash"))


def _local_components(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Single-task min-root union-find over a (count-gated small) edge
    list — the pagerank-local regime pattern: every round of label
    propagation collapses into one ``mapInPandas`` task, no per-round
    job submission or checkpoint (measured: the distributed loop paid
    ~9 s of pure round coordination for a 2,560-edge dup graph at sf1).
    Emits ``(id, canonical_id = component min)`` for edge-touched nodes
    only; callers left-join onto the node set so isolated nodes stay
    their own canonical. ``np.unique`` sorts ascending and unions keep
    the smaller root index, so the root IS the component min for any
    orderable id type (numeric or string — same ordering as ``F.min``).
    """
    import numpy as np
    import pandas as pd

    id_t = edges.schema[a].dataType.simpleString()

    def kern(batches, _a=a, _b=b):
        frames = [p for p in batches if len(p)]
        if not frames:
            yield pd.DataFrame({"id": [], "canonical_id": []})
            return
        pdf = pd.concat(frames, ignore_index=True)
        ua, ub = pdf[_a].to_numpy(), pdf[_b].to_numpy()
        uniq, inv = np.unique(np.concatenate([ua, ub]), return_inverse=True)
        parent = np.arange(len(uniq))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        m = len(ua)
        for i in range(m):
            ra, rb = find(inv[i]), find(inv[m + i])
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        roots = np.array([find(i) for i in range(len(uniq))])
        yield pd.DataFrame({"id": uniq, "canonical_id": uniq[roots]})

    return edges.coalesce(1).mapInPandas(
        kern, f"id {id_t}, canonical_id {id_t}"
    )


# Edge-count gate for the single-task union-find regime: a python loop
# over 500K edges is ~0.5 s — far under the distributed loop's per-round
# job floor at that size; above it the relational rounds take over.
CC_LOCAL_EDGE_LIMIT = 500_000


def canonicalize_pairs(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iters: int = 25,
    local_edge_limit: int = CC_LOCAL_EDGE_LIMIT,
) -> DataFrame:
    """Duplicate-GROUP assignment from near-dup pairs: connected components
    by iterative min-label propagation. Returns (id, canonical_id) where
    canonical_id = min doc id in the component.

    ``nodes``: (id); ``pairs``: (id_a, id_b) undirected edges.

    The one legitimately *iterative* operator in the engine (transitive
    closure is not single-pass relational). Each iteration is one shuffle
    join + one aggregation; labels converge in <= graph-diameter iterations
    (near-dup components are shallow — a handful). ``localCheckpoint``
    truncates lineage so plans stay flat; the loop exits on a converged
    fixpoint, checked with a cheap anti-join probe.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # regime gate (r10): the count materializes the checkpoint the loop
    # would materialize anyway; small edge sets skip the round loop
    if edges.count() <= local_edge_limit:
        comp = _local_components(edges, "src", "dst")
        return nodes.select("id").join(comp, "id", "left").select(
            "id", F.coalesce("canonical_id", F.col("id")).alias("canonical_id")
        )
    labels = nodes.select(F.col("id"), F.col("id").alias("label")).localCheckpoint(
        eager=False
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("canonical_id"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_overlap: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose shingle set
    overlaps ANY benchmark document's shingles by >= ``min_overlap`` of the
    corpus doc's shingles (the n-gram-overlap decontamination used for
    pretraining corpora vs eval sets). Returns (id, n_sh, n_contaminated,
    max_overlap) for flagged docs.

    Scale shape: benchmark sets are small (eval suites) → their hashed
    shingle table broadcasts; the corpus shingle table is the only large
    side and shuffles once into the per-(corpus doc, benchmark doc) overlap
    aggregation, pre-filtered by the broadcast semi-match on the shingle
    hash. No corpus self-join anywhere."""
    c = hashed_shingle_table(corpus, id_col, text_col, n).select(
        F.col("id").alias("cid"), "h"
    )
    b = hashed_shingle_table(benchmark, id_col, text_col, n).select(
        F.col("id").alias("bid"), "h"
    )
    sizes = c.groupBy("cid").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        c.join(F.broadcast(b), "h")
        .groupBy("cid", "bid")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    per_doc = hits.join(sizes, "cid").withColumn(
        "overlap", F.col("n_common").cast("double") / F.col("n_sh")
    )
    return (
        per_doc.filter(F.col("overlap") >= min_overlap)
        .groupBy(F.col("cid").alias("id"), "n_sh")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated"),
            F.max("overlap").alias("max_overlap"),
        )
    )


def canonicalize_pairs_star(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iters: int = 50,
    local_edge_limit: int = CC_LOCAL_EDGE_LIMIT,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same contract as :func:`canonicalize_pairs` but converging in
    O(log n) rounds even on long chains, where min-label propagation needs
    O(diameter). Returns (id, canonical_id = component min).

    Both operations are pure groupBy+join relational steps (no per-node
    neighbor lists are ever collected, so hub nodes cannot skew a task):
      - large-star: every neighbor v > u re-attaches to min(Γ(u) ∪ {u});
      - small-star: every neighbor v <= u (and u itself) attaches to
        min(Γ<=(u) ∪ {u}).
    Iterate to a fixpoint; the surviving edge set is a star forest whose
    centers are the component minima."""
    spark = nodes.sparkSession
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # regime gate (r10): count over the already-eager checkpoint; small
    # edge sets skip the star rounds (same result, see _local_components)
    if edges.count() <= local_edge_limit:
        comp = _local_components(edges, "u", "v")
        return nodes.select("id").join(comp, "id", "left").select(
            "id", F.coalesce("canonical_id", F.col("id")).alias("canonical_id")
        )

    def large_star(e: DataFrame) -> DataFrame:
        mins = e.groupBy("u").agg(F.min("v").alias("mv"))
        m = mins.select("u", F.least("mv", F.col("u")).alias("m"))
        return (
            e.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient edges high -> low, then attach each u's low neighbors
        # (and u) to the minimum of them
        lo = e.filter(F.col("v") <= F.col("u"))
        mins = lo.groupBy("u").agg(F.min("v").alias("m"))
        moved = (
            lo.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        selfe = mins.select("u", F.col("m").alias("v"))
        return moved.unionByName(selfe).filter(F.col("u") != F.col("v")).distinct()

    def signature(e: DataFrame) -> tuple:
        # Order-insensitive fingerprint of a distinct edge set: one partial
        # aggregate, no shuffle of the edges beyond a scalar reduce. The
        # edge sets being compared are both distinct, so (count, xor of
        # 64-bit edge hashes, min, max) equality means set equality up to a
        # ~2^-64 collision; large/small-star is monotone (a reached fixpoint
        # stays fixed), so even a collision could only end the loop one
        # round early with an already-converged star forest in practice.
        h = F.xxhash64("u", "v")
        row = e.agg(
            F.count(F.lit(1)), F.bit_xor(h), F.min(h), F.max(h)
        ).first()
        return tuple(row)

    sig = signature(edges)
    for _ in range(max_iters):
        # large-star works on the symmetric closure; re-symmetrize first
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        new_edges = (
            small_star(large_star(sym))
            .localCheckpoint(eager=True)
        )
        new_sig = signature(new_edges)
        edges = new_edges
        if new_sig == sig:
            break
        sig = new_sig
    roots = edges.groupBy("u").agg(F.min("v").alias("canonical_id"))
    return (
        nodes.select("id")
        .join(roots, nodes.id == roots.u, "left")
        .select("id", F.coalesce("canonical_id", F.col("id")).alias("canonical_id"))
    )


def simhash_pairs(
    fingerprints: DataFrame, max_hamming: int = 1, bits: int = 32
) -> DataFrame:
    """Pairs of ids whose simhash Hamming distance <= max_hamming.
    Banded candidates (pigeonhole: distance <= h ⇒ >= 1 of h+1 bands equal)
    via group-by-band-value pair expansion.

    ONE shuffle total after the fingerprint build. The fingerprint rides
    along in the bucket grouping as a struct field, so everything after the
    group-by-(band, bucket) exchange happens inside the bucket task:
      - pair expansion (each unordered pair appears at most once per band —
        the slice expansion never repeats a pair within a bucket);
      - the Hamming verify (no join back to the fingerprint table);
      - cross-band dedup: a pair colliding in several bands is kept only in
        its FIRST colliding band, decided from the two fingerprints already
        in hand — no global dropDuplicates shuffle over the pair set.
    """
    n_bands = max_hamming + 1
    width = bits // n_bands
    mask = (1 << width) - 1

    def band_val(col: Column, i: int) -> Column:
        return F.shiftright(col, width * i).bitwiseAND(F.lit(mask))

    band_rows = fingerprints.select(
        # struct sorts by id first → slice-expansion below yields id_a < id_b
        F.struct(F.col("id"), F.col("simhash")).alias("node"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        band_val(F.col("simhash"), i).alias("bucket"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("node", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    grouped = band_rows.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("node")).alias("nodes")
    )
    pairs = grouped.select(
        "band",
        F.explode(
            F.flatten(
                F.transform(
                    F.col("nodes"),
                    lambda x, i: F.transform(
                        F.slice(F.col("nodes"), i + 2, F.size(F.col("nodes"))),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p"),
    ).select(
        "band",
        F.col("p.a.id").alias("id_a"),
        F.col("p.b.id").alias("id_b"),
        F.col("p.a.simhash").alias("__fa"),
        F.col("p.b.simhash").alias("__fb"),
        F.bit_count(F.col("p.a.simhash").bitwiseXOR(F.col("p.b.simhash"))).alias(
            "hamming"
        ),
    )
    # keep the pair only where this band is its first collision: every
    # earlier band must differ (pure bit arithmetic on the carried
    # fingerprints — evaluated in-task, inside codegen)
    first_band = F.lit(True)
    for j in range(n_bands - 1):
        first_band = first_band & (
            (F.col("band") <= j)
            | (band_val(F.col("__fa"), j) != band_val(F.col("__fb"), j))
        )
    return (
        pairs.filter((F.col("hamming") <= max_hamming) & first_band)
        .select("id_a", "id_b", "hamming")
    )


def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    kernel: str = "carry",
) -> DataFrame:
    """MinHash ESTIMATE near-dup: LSH candidates scored by signature
    agreement alone — ``jacc_est = |{i : m_i(a) = m_i(b)}| / k`` — with no
    exact verify. Returns (id_a, id_b, jacc_est >= threshold).

    The cheap screening pass for a 100 TB corpus: the shingle arrays the
    exact verify needs (8 bytes per distinct shingle per doc) never leave
    the signature aggregation, so the candidate join ships only k minima
    per doc (k·8 bytes, independent of document length). E[estimate] is the
    true Jaccard (each permutation minimum agrees with probability J), so
    the threshold keeps expected behavior while trading exactness for a
    document-length-independent shuffle. Use :func:`minhash_dedup` when
    downstream needs the verified value.

    ``kernel="carry"`` (default) carries the k-minima ARRAY through the
    band-bucket pair expansion (the :func:`minhash_dedup` shape) and scores
    each pair row-locally with a ``zip_with`` agreement fold — no candidate
    join, and the signature aggregate is planned ONCE (the join form
    planned the whole tokenize+signature subtree three times: candidates
    plus both join sides; measured 14 Exchange / 32 HashAggregate at
    sf0.1). ``kernel="join"`` keeps that relational form as the
    differential-testing reference (``test_minhash_estimate_kernels_identical``)."""
    k = len(hashing.MINHASH_SEEDS)
    sh = hashed_shingle_table(df, id_col, text_col, n, with_h28=True)
    sig = sh.groupBy("id").agg(
        *[
            F.min(hashing.minhash_value(F.col("h28"), i)).alias(f"m{i}")
            for i in range(k)
        ]
    )
    if kernel == "join":
        cands = minhash_lsh_candidates(sig, bands)
        a = sig.select(F.col("id").alias("id_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(k)])
        b = sig.select(F.col("id").alias("id_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)])
        agree = sum(
            (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(k)
        )
        return (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("jacc_est", agree / F.lit(k))
            .filter(F.col("jacc_est") >= threshold)
            .select("id_a", "id_b", "jacc_est")
        )
    if kernel != "carry":
        raise ValueError(f"unknown kernel {kernel!r} (carry|join)")
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        member = [
            F.col(f"m{i}").cast("string")
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        band_cols.append(
            F.concat_ws("|", F.lit(b), F.md5(F.concat_ws(",", *member)))
        )
    banded = sig.select(
        F.struct(
            F.col("id"), F.array(*[F.col(f"m{i}") for i in range(k)]).alias("ms")
        ).alias("node"),
        F.explode(F.array(*band_cols)).alias("bb"),
    )
    grouped = banded.groupBy("bb").agg(
        F.array_sort(F.collect_list("node")).alias("nodes")
    )
    agree = F.aggregate(
        F.zip_with(F.col("p.a.ms"), F.col("p.b.ms"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # score AT pair emission (duplicate band hits produce identical
    # doubles), filter BEFORE the dedup exchange — sub-threshold pairs
    # never shuffle, and the dedup keys three scalars (hash-aggregable)
    # instead of dragging two k-long signature arrays through a
    # SortAggregate
    return (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("nodes"),
                        lambda x, i: F.transform(
                            F.slice(F.col("nodes"), i + 2, F.size(F.col("nodes"))),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            (agree / F.lit(k)).alias("jacc_est"),
        )
        .filter(F.col("jacc_est") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_len: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document segment dedup (the C4/RefinedWeb "line dedup" step,
    generalized to token segments): every document is cut into
    non-overlapping ``seg_len``-token segments, segments occurring in
    >= ``min_docs`` *distinct* documents are boilerplate and removed from
    every document, and the surviving segments are reassembled in order.

    Returns ``(id, n_seg, n_seg_dropped, clean_md5)`` — the md5 of the
    reassembled text (kept compact; a doc whose every segment is
    boilerplate reassembles to the empty string).

    Scale shape (same discipline as :func:`hashed_shingle_table` — full
    text never crosses a shuffle): the document table pre-exchanges on the
    unique id, segments are a row-local projection carrying an 8-byte
    ``xxhash64`` of each segment, the doc-count aggregate ships only
    (hash, id) pairs, and ONLY the hot set (segments in >= ``min_docs``
    docs — the boilerplate, small by definition relative to the corpus)
    joins back, where AQE broadcasts it at runtime when it fits. With a
    broadcast hot set, the final per-doc reassembly groupBy rides the id
    pre-exchange — so the full pipeline moves one (hash, id) shuffle plus
    the hot set, and the segment TEXT stays in its scan-local task from
    explode to md5. (A hash collision against a hot segment would
    misclassify one segment; at 10^9 segments the expected count is ~0,
    the same accepted tradeoff as the shingle table.) Reassembly order is
    carried by ``array_sort`` over (seg_idx, seg_text) structs —
    partitioning-invariant; ``collect_list`` skips the NULLs that
    ``when(keep, ...)`` assigns to dropped segments.
    """
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    toks = text.tokens(F.col(text_col))
    starts = F.when(
        F.size(toks) > 0, F.sequence(F.lit(1), F.size(toks), F.lit(seg_len))
    ).otherwise(F.array().cast("array<int>"))
    # the segment hash is computed over the token-slice ARRAY (xxhash64 of
    # a structured value) — equal token slices hash equal, and the count
    # branch (which recomputes this subtree via DAG recompute) never pays
    # the array_join string build; only the reassembly branch materializes
    # the segment text it will emit
    seg_slice = F.slice("__toks", F.col("__start"), seg_len)
    segs = (
        df.select(F.col(id_col).alias("id"), toks.alias("__toks"), starts.alias("__starts"))
        .select("id", "__toks", F.explode("__starts").alias("__start"))
        .select(
            "id",
            ((F.col("__start") - 1) / seg_len).cast("long").alias("seg_idx"),
            F.array_join(seg_slice, " ").alias("seg_text"),
            F.xxhash64(seg_slice).alias("h"),
        )
    )
    counts_side = (
        df.select(F.col(id_col).alias("id"), toks.alias("__toks"), starts.alias("__starts"))
        .select("id", "__toks", F.explode("__starts").alias("__start"))
        .select("id", F.xxhash64(seg_slice).alias("h"))
    )
    hot = (
        counts_side
        .groupBy("h")
        .agg(F.count_distinct("id").alias("n_docs_seg"))
        .filter(F.col("n_docs_seg") >= min_docs)
    )
    joined = segs.join(hot, "h", "left")
    keep = F.col("n_docs_seg").isNull()
    kept_struct = F.when(keep, F.struct(F.col("seg_idx"), F.col("seg_text")))
    return joined.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_seg"),
        F.sum((~keep).cast("long")).alias("n_seg_dropped"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg_text"]
                ),
                " ",
            )
        ).alias("clean_md5"),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    prefilter_jaccard: float = 0.5,
    max_rel: float = 0.2,
) -> DataFrame:
    """Blocked edit-distance near-dup join: n-gram-Jaccard candidate pairs
    (the shingle co-occurrence machinery of :func:`ngram_jaccard_pairs`)
    refined with character-level Levenshtein distance — the standard
    two-phase shape for edit-similarity joins (cheap set-similarity block,
    exact DP verify on the surviving pairs only).

    Returns ``(id_a, id_b, dist, rel_dist)`` with ``id_a < id_b`` and
    ``rel_dist = dist / max(len_a, len_b) <= max_rel``.

    The prefilter is sound for the near-dup regime: an edit of ``d``
    characters destroys at most ``d * n`` word shingles, so truly close
    pairs always share far more than ``prefilter_jaccard`` of their
    shingles. Levenshtein is a built-in JVM expression on both engines
    (identical unit-cost DP), and it runs only on candidate pairs — never
    all-pairs. Texts are fetched by two id-equi-joins against the document
    table (id keys are unique, hence skew-free).
    """
    cands = ngram_jaccard_pairs(df, id_col, text_col, n, prefilter_jaccard).select(
        "id_a", "id_b"
    )
    docs = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    return (
        cands.join(
            docs.select(F.col("__id").alias("id_a"), F.col("__t").alias("__ta")), "id_a"
        )
        .join(docs.select(F.col("__id").alias("id_b"), F.col("__t").alias("__tb")), "id_b")
        .withColumn("dist", F.levenshtein("__ta", "__tb").cast("long"))
        .withColumn(
            "rel_dist",
            F.round(
                F.col("dist") / F.greatest(F.length("__ta"), F.length("__tb")), 4
            ),
        )
        .filter(F.col("rel_dist") <= max_rel)
        .select("id_a", "id_b", "dist", "rel_dist")
    )


def shingle_novelty(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Per-document novelty score for incremental corpus curation: the
    fraction of a document's distinct word-n-grams whose FIRST occurrence
    (minimum document id — ids are the arrival order in an append-only
    corpus) is this document. A near-duplicate of earlier material scores
    ~0; genuinely new text scores ~1 — the cheap content-growth signal
    computed before any pairwise dedup.

    Returns ``(id, n_sh, n_novel, novelty)`` with ``novelty`` an exact
    integer-ratio double.

    Scale shape: reuses the single id-partitioned shingle exchange
    (:func:`hashed_shingle_table`); the first-owner table is one
    groupBy(shingle) aggregate — shuffled on the 8-byte hash, hot
    boilerplate shingles are still one (key, min) row each, so no skew
    materializes. The join back is shingle-keyed; the final per-doc
    aggregate returns to the id clustering.
    """
    sh = hashed_shingle_table(df, id_col, text_col, n, partition_by_id=True)
    first = sh.groupBy("h").agg(F.min("id").alias("first_id"))
    return (
        sh.join(first, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum((F.col("id") == F.col("first_id")).cast("long")).alias("n_novel"),
        )
        .withColumn("novelty", F.col("n_novel").cast("double") / F.col("n_sh"))
    )

def incremental_dedup(
    delta: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Classify each NEW (delta) document against an EXISTING corpus index:
    ``exact_dup`` (content digest already present), ``near_dup`` (n-gram
    Jaccard vs some index doc >= ``threshold``), else ``new``. Returns
    ``(id, verdict, max_jacc)`` for every delta document — the admission
    decision of a continuously-updated training corpus.

    Scale shape — the full corpus is never self-joined, and the index is
    never re-deduped: the delta (one crawl increment — small relative to
    the corpus) is the only side fully shingled AND carried to the verdict;
    the index contributes a distinct digest column (semi-join) and its
    shingle postings. Both joins are keyed (digest / 8-byte shingle hash)
    so AQE broadcasts the delta side and the cost is O(delta + matching
    index postings) rather than the O(corpus) of a per-increment re-dedup.
    """
    d = delta.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    i = index.select(F.col(id_col).alias("iid"), F.col(text_col).alias("itext"))

    exact = (
        d.select("id", F.md5("text").alias("digest"))
        .join(
            i.select(F.md5("itext").alias("digest")).distinct(),
            "digest",
            "left_semi",
        )
        .select("id", F.lit(True).alias("is_exact"))
    )

    dsh = hashed_shingle_table(d, "id", "text", n).select(
        F.col("id").alias("did"), "h"
    )
    ish = hashed_shingle_table(i, "iid", "itext", n)
    dsz = dsh.groupBy("did").agg(F.count(F.lit(1)).alias("n_d"))
    isz = ish.groupBy("id").agg(F.count(F.lit(1)).alias("n_i"))
    inter = (
        dsh.join(ish.select(F.col("id").alias("iid"), "h"), "h")
        .groupBy("did", "iid")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    near = (
        inter.join(dsz, "did")
        .join(isz.select(F.col("id").alias("iid"), "n_i"), "iid")
        .withColumn(
            "jacc",
            F.col("n_common").cast("double")
            / (F.col("n_d") + F.col("n_i") - F.col("n_common")),
        )
        .groupBy(F.col("did").alias("id"))
        .agg(F.max("jacc").alias("max_jacc"))
    )
    return (
        d.select("id")
        .join(exact, "id", "left")
        .join(near, "id", "left")
        .select(
            "id",
            F.when(F.col("is_exact"), "exact_dup")
            .when(F.col("max_jacc") >= threshold, "near_dup")
            .otherwise("new")
            .alias("verdict"),
            F.coalesce("max_jacc", F.lit(0.0)).alias("max_jacc"),
        )
    )

def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    hot_shingle_threshold: int | str | None = "auto",
) -> DataFrame:
    """Asymmetric shingle containment: C(sub -> super) = |sub ∩ super| /
    |sub|. Returns ``(id_sub, id_super, containment)`` for every ordered
    pair with containment >= ``threshold`` — the quote / subsumed-document
    detector that symmetric Jaccard misses (a paragraph fully quoted inside
    a long article has high containment but low Jaccard, so near-dup
    passes keep both while this flags the subset side).

    Same scale shape as :func:`ngram_jaccard_pairs`: one id-partitioned
    shingle exchange feeds sizes and the co-occurrence join; each unordered
    candidate pair is scored in both directions from the same n_common row,
    so the asymmetry costs no extra join.
    """
    sh = hashed_shingle_table(df, id_col, text_col, n, partition_by_id=True)
    # sizes ride the pair join (carry_n, r10) — both containment
    # directions score row-locally, no sizes joins over the pair table
    scored = _join_cooccurrence_pairs(
        sh, key="h", hot_threshold=hot_shingle_threshold, carry_n=True
    )
    a_in_b = scored.select(
        F.col("id_a").alias("id_sub"),
        F.col("id_b").alias("id_super"),
        (F.col("n_common").cast("double") / F.col("n_a")).alias("containment"),
    )
    b_in_a = scored.select(
        F.col("id_b").alias("id_sub"),
        F.col("id_a").alias("id_super"),
        (F.col("n_common").cast("double") / F.col("n_b")).alias("containment"),
    )
    return a_in_b.unionByName(b_in_a).filter(F.col("containment") >= threshold)


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering (AllPairs,
    Bayardo et al. WWW'07): returns every pair with shingle-Jaccard >=
    ``threshold`` as ``(id_a, id_b, jacc)``, id_a < id_b — the same logical
    result as :func:`ngram_jaccard_pairs`, produced without ever joining
    the full shingle table against itself.

    Prefix-filtering principle: order every document's shingles by one
    global total order (ascending corpus document-frequency, ties by hash —
    rarest first). If jacc(x, y) >= t then |x∩y| >= ceil(t·|x|), so the
    first ``|x| - ceil(t·|x|) + 1`` shingles of x and the corresponding
    prefix of y must share at least one element — only PREFIXES need to be
    joined to find every candidate. A pair is also impossible unless
    ``t·max(|x|,|y|) <= min(|x|,|y|)`` (length filter, applied in the
    candidate join). Candidates are then verified with an exact
    intersection count.

    Why this is the 100 TB shape: the full-shingle co-occurrence join
    (:func:`ngram_jaccard_pairs`) exchanges the whole shingle table and
    its pair expansion is Σ df(s)² over ALL shingles — stop-shingles make
    that quadratic. Here only the prefix (~(1-t) of each doc, and by
    construction its RAREST shingles) enters the pair join, so the hot
    high-df keys that drive the blow-up are precisely the ones excluded
    from the index. The verify stage touches candidate pairs only. The
    df-ranking costs one extra exchange on the shingle hash + one window
    on id — both linear — traded against the quadratic candidate
    reduction. Exactness is oracle-PROVEN, not argued: the catalog query
    (q122) hash-matches a brute-force all-pairs DuckDB oracle, so a pair
    lost to a wrong prefix bound would fail the gate.
    """
    from pyspark.sql import Window

    sh = hashed_shingle_table(df, id_col, text_col, n, partition_by_id=True)
    # The shingle index is consumed by FIVE subplans (df-rank, both prefix
    # sides, the verify explode, sizes) whose pushed join-null filters
    # differ — Catalyst's ReuseExchange canonicalization misses them and
    # would re-tokenize the corpus per consumer (8 scans observed).
    # Materialize it once: the index build is the linear pass you'd
    # persist anyway before an AllPairs join at corpus scale.
    sh = sh.localCheckpoint(eager=False)
    # global canonical order: ascending document frequency, ties by hash.
    # EXACT df (not sampled): the bound must hold for every key, and the
    # df aggregate is one linear exchange on the 8-byte hash.
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    w_id = Window.partitionBy("id")
    ranked = sh.join(dfreq, "h").select(
        "id",
        "h",
        F.row_number()
        .over(w_id.orderBy(F.col("__df").asc(), F.col("h").asc()))
        .alias("__pos"),
        F.count(F.lit(1)).over(w_id).alias("__n_sh"),
    )
    prefix = ranked.filter(
        F.col("__pos")
        <= F.col("__n_sh") - F.ceil(F.col("__n_sh") * F.lit(threshold)) + 1
    )
    # prefix feeds both sides of the candidate self-join; one more
    # materialization keeps the df-join + rank window single-computed
    prefix = prefix.localCheckpoint(eager=False)
    a = prefix.select(
        F.col("id").alias("id_a"), "h",
        F.col("__n_sh").alias("__n_a"), F.col("__pos").alias("__i"),
    )
    b = prefix.select(
        F.col("id").alias("id_b"), "h",
        F.col("__n_sh").alias("__n_b"), F.col("__pos").alias("__j"),
    )
    # PPJoin positional filter (Xiao et al. WWW'08) on top of the prefix
    # bound: both shingle lists follow the SAME global order, so the
    # FIRST common element of a pair sits at (min i, min j) across its
    # prefix matches, every earlier element of either side is NOT shared,
    # and the total overlap is bounded by 1 + min(n_a - i, n_b - j).
    # jacc >= t  ⇔  overlap >= t/(1+t)·(n_a + n_b), so candidates whose
    # positional bound can't reach that overlap die BEFORE the verify
    # join — the dedup against multi-key prefix matches (the old
    # .distinct()) falls out of the same groupBy for free.
    cand = (
        a.join(b, "h")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: jacc <= min/max, so t·max <= min is necessary
            & (F.col("__n_a") * F.lit(threshold) <= F.col("__n_b"))
            & (F.col("__n_b") * F.lit(threshold) <= F.col("__n_a"))
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("__i").alias("__i"),
            F.min("__j").alias("__j"),
            F.first("__n_a").alias("__n_a"),
            F.first("__n_b").alias("__n_b"),
        )
        .filter(
            F.lit(1.0)
            + F.least(F.col("__n_a") - F.col("__i"), F.col("__n_b") - F.col("__j"))
            >= F.ceil(
                F.lit(threshold) / (1.0 + threshold)
                * (F.col("__n_a") + F.col("__n_b"))
            )
        )
        .select("id_a", "id_b")
    )
    # exact verify on candidates only, in ARRAY form (r10): the per-doc
    # shingle arrays ride the existing id-partitioned exchange (one
    # groupBy(id), no shingle-level shuffle — shingles are distinct per
    # doc by construction, so |array_intersect| IS the set intersection),
    # and n_common folds row-locally per candidate pair. The previous
    # exploded verify shuffled |candidates|·avg_doc_size rows (10M at
    # sf1) through a join + (id_a,id_b) re-aggregation — measured 5.1 s
    # of the 3.4 s/rep exec; array shuffle volume is the candidate table
    # twice plus the array payload (== shingle-table bytes, linear).
    # The sizes table also falls out of the arrays (size(__hs)).
    docs_arr = sh.groupBy("id").agg(F.collect_list("h").alias("__hs"))
    out = (
        cand.join(
            docs_arr.select(F.col("id").alias("id_a"), F.col("__hs").alias("__ha")),
            "id_a",
        )
        .join(
            docs_arr.select(F.col("id").alias("id_b"), F.col("__hs").alias("__hb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__ha", "__hb")).alias("n_common"),
            F.size("__ha").alias("n_a"),
            F.size("__hb").alias("n_b"),
        )
        .withColumn(
            "jacc",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jacc") >= threshold)
    )
    return out.select("id_a", "id_b", "jacc")


def repeated_window_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact repeated-substring span profile (the sliding-window form of
    Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    Better": mark every ``window``-token span whose text occurs >=
    ``min_count`` times ANYWHERE in the corpus, then merge overlapping/
    adjacent marks into maximal duplicated spans per document).

    Returns one row per document: ``(id, n_windows, n_dup_windows,
    n_spans, covered_tokens)`` — ``covered_tokens`` is the total token
    length of the merged duplicated spans (the mass a span-excision pass
    would remove), zero for documents without duplicated windows.

    Differs from :func:`segment_dedup` (C4-style): segments there are
    NON-overlapping fixed blocks keyed per distinct-document count;
    here windows slide by 1 token (catching duplicates at any alignment,
    the suffix-array use case) and global occurrence count is the
    duplication criterion.

    Scale shape: the window table is Σ doc_len rows (linear, the same
    size class as the shingle table) keyed by an 8-byte xxhash64 over the
    window's slice of per-token xxhash64 values (tokens hashed once per
    doc, no window string materialized) — the
    occurrence count map-side combines, only hashes of REPEATED windows
    (rare by construction) join back (AQE-broadcast when small), and the
    span merge is one per-document window function over hit positions
    (|hits| rows, never |windows|). Everything is built-in expressions —
    no Python UDFs. At 100 TB raise ``window``/use a stride and pre-hash
    to 8 bytes exactly as here; the plan shape is unchanged.
    """
    from pyspark.sql import Window as W

    # same fix as hashed_shingle_table: spread the CPU-heavy
    # tokenize/window/hash projection across all cores regardless of the
    # input's split count or a bytes-sized shuffle width (a packed
    # parquet file carries thousands of documents per split, and a
    # tuned-down shuffle width serializes the projection)
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    toks = df.select(
        F.col(id_col).alias("id"), text.tokens(F.col(text_col)).alias("__t")
    )
    n = F.size("__t")
    # Window key = xxhash64 over the slice of PER-TOKEN xxhash64 values
    # (r10): each token is hashed once per document instead of ``window``
    # times, and no window STRING is ever materialized (the old keying
    # built an array_join'd ~w·token_len string per position — the
    # dominant projection cost of the pass, which two consumers pay).
    # Token-boundary injectivity is preserved structurally: the array
    # hash folds element count and order, so ["a","bc"] and ["ab","c"]
    # key differently just as the " "-joined strings did. Exactness class
    # is unchanged — equal windows always collide (hashing is
    # deterministic), unequal windows collide only with 64-bit-hash
    # probability, the same caveat the previous string keying documented.
    toks = toks.withColumn(
        "__th", F.transform("__t", lambda t: F.xxhash64(t))
    )
    wins_arr = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(0), n - window),
            lambda i: F.xxhash64(F.slice("__th", i + 1, window)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    wins = (
        toks.select("id", F.posexplode(wins_arr).alias("pos", "__h"))
        # Two consumers (counts, the hits join) hang off this
        # tokenize+window+hash pass, so it is re-derived up to 2x. That is
        # the CORRECT trade, measured both ways at the 100x fixture
        # (PERF.md r7): a localCheckpoint here (the
        # prefix_filter_jaccard_pairs discipline) must MATERIALIZE the
        # full window table — Σ corpus tokens rows — and at 500k docs
        # that IO turned an 18.5 s query into 42 s (PERF.md r7
        # erratum retracts the earlier 0.6 s figure), while the re-derived
        # projection streams straight into each consumer's map-side
        # partial aggregate and never lands anywhere. Checkpointing wins
        # only when the materialized set is SMALL relative to the
        # recompute (the prefix-filter case); here it is the largest
        # relation in the plan. (r10: the third consumer — per-doc window
        # TOTALS — no longer re-derives the pass at all: n_windows is a
        # closed-form function of the token count, see ``base`` below.)
    )
    counts = wins.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
    dup = counts.filter(F.col("__c") >= min_count).select("__h")
    hits = wins.join(dup, "__h").select("id", "pos")
    w_doc = W.partitionBy("id").orderBy("pos")
    spans = (
        hits.withColumn(
            "__brk",
            F.when(
                F.col("pos") - F.lag("pos").over(w_doc) <= window, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "__span",
            F.sum("__brk").over(
                w_doc.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("id", "__span")
        .agg(
            F.min("pos").alias("__p0"),
            F.max("pos").alias("__p1"),
            F.count(F.lit(1)).alias("__nw"),
        )
    )
    per_doc = spans.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("__p1") - F.col("__p0") + window).alias("covered_tokens"),
        F.sum("__nw").alias("n_dup_windows"),
    )
    # n_windows is a pure function of the token count — max(n - window + 1,
    # 0) — so the totals branch needs NO window strings/hashes at all (r10:
    # previously a third full re-derivation of the tokenize+window+hash
    # pass plus a groupBy existed just to count rows). ``base`` is also one
    # row per input document, so it doubles as the left spine of the final
    # join (docs without windows keep n_windows = 0).
    base = toks.select(
        "id",
        F.when(n >= window, (n - window + 1).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("n_windows"),
    )
    return (
        base.join(per_doc, "id", "left")
        .select(
            "id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        )
    )
