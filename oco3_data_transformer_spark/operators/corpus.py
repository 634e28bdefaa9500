"""Corpus-preparation operators for training-data pipelines: deterministic
dataset splits, stratified sampling, and sequence packing.

These are the operations a pretraining pipeline runs downstream of dedup
(operators/dedup.py) and quality scoring (functions/text.py) to turn a
cleaned corpus into training shards. All are deterministic (hash- or
window-based, never ``rand()``) so runs are reproducible and the DuckDB
oracle can check them bit-for-bit.

Scale design:
  - :func:`hash_split` is a pure projection — no shuffle at all; the split
    of a 100 TB corpus is decided row-local from the portable md5 hash.
  - :func:`stratified_sample` is one shuffle on the stratum key; per-stratum
    top-k by hash is a single window pass (rank over hash = deterministic
    uniform sample without replacement).
  - :func:`pack_next_fit` shards the corpus by id hash and packs each shard
    independently. Global next-fit packing is inherently sequential (bin
    state threads through every document), so the scalable form is per-shard
    packing — shard count tracks cluster width, each shard's loop runs in
    one Arrow-batched task, and bin ids are (shard, local_bin) pairs. This
    is the standard practice for sequence packing at corpus scale; packing
    quality is unaffected because capacity waste is per-bin, not per-shard.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing


def split_hash(id_col: Column) -> Column:
    """Deterministic [0, 100) bucket from the portable md5 hash of the id.

    Engine-portable (functions/hashing.py): DuckDB computes the identical
    bucket from the same SQL, so split membership is oracle-checkable and
    stable across runs, partitionings, and engines.
    """
    return hashing.portable_hash64(id_col.cast("string")) % 100


def split_hash_sql(id_expr: str) -> str:
    return f"({hashing.portable_hash64_sql(f'CAST({id_expr} AS VARCHAR)')} % 100)"


def shard_hash_sql(id_expr: str, n_shards: int) -> str:
    """DuckDB SQL for the shard assignment used by :func:`pack_next_fit`
    (raw portable hash mod ``n_shards`` — NOT the [0,100) split bucket)."""
    return f"({hashing.portable_hash64_sql(f'CAST({id_expr} AS VARCHAR)')} % {n_shards})"


def hash_split(df: DataFrame, id_col: str, train_pct: int = 80, val_pct: int = 10) -> DataFrame:
    """Assign every row to train/val/test by deterministic id-hash bucket.

    Zero-shuffle: the split column is a projection. The reference has no
    analog (it is a geoscience pipeline); this is part of the
    training-data-pipeline surface the engine adds on top.
    """
    h = split_hash(F.col(id_col))
    split = (
        F.when(h < train_pct, F.lit("train"))
        .when(h < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def stratified_sample(df: DataFrame, stratum_col: str, id_col: str, k: int) -> DataFrame:
    """Deterministic uniform sample of ``k`` rows per stratum.

    Ranking by a uniform hash of the id is equivalent to a uniform random
    sample without replacement, but reproducible and engine-portable —
    unlike ``rand()``-based sampling which can never be oracle-checked.
    One shuffle (on the stratum key) + one window pass.
    """
    h = split_hash(F.col(id_col))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


#: 2^60 — the portable hash's domain size (15 hex chars); exactly
#: representable as a double.
_HASH_DOMAIN = float(1 << 60)


def weighted_sample_key(id_col: Column, weight_col: Column) -> Column:
    """Efraimidis-Spirakis sampling key: the k rows with the SMALLEST
    ``-ln(u)/w`` (u uniform in (0,1], w the row weight) are a weighted
    sample without replacement with inclusion probability proportional to
    weight. ``u`` is derived from the portable id hash, so the sample is
    deterministic, engine-portable, and partition-invariant — the
    reproducible substitute for ``rand()``-based weighted sampling.
    """
    u = (hashing.portable_hash64(id_col.cast("string")) + 1) / F.lit(_HASH_DOMAIN)
    return -F.log(u) / weight_col.cast("double")


def weighted_sample_key_sql(id_expr: str, weight_expr: str) -> str:
    h = hashing.portable_hash64_sql(f"CAST({id_expr} AS VARCHAR)")
    return f"(-ln(({h} + 1) / {_HASH_DOMAIN:.1f}) / CAST({weight_expr} AS DOUBLE))"


def weighted_sample(df: DataFrame, id_col: str, weight_col: str, k: int) -> DataFrame:
    """Deterministic weighted sample without replacement of ``k`` rows
    (inclusion probability ∝ weight). One global top-k by the sampling key
    — a TakeOrdered (no full sort) at any scale. Rows with non-positive
    weight are excluded (their key is undefined).
    """
    key = weighted_sample_key(F.col(id_col), F.col(weight_col))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").asc(), F.col(id_col).asc())
        .limit(k)
    )


def mix_by_budget(
    df: DataFrame,
    source_col: str,
    id_col: str,
    size_col: str,
    budget_col: Column,
) -> DataFrame:
    """Corpus mixing: deterministically subsample each source to a token
    budget.

    Documents are ordered per source by id hash (a reproducible uniform
    shuffle) and kept while the cumulative token count BEFORE the document
    is under the source's budget — so the budget is always reached (the
    crossing document is included) and membership is stable under
    repartitioning. One shuffle on the source key + one window pass; this
    is the per-source quota step of a data-mixture schedule (e.g. "2 parts
    web, 1 part code" re-weighting before training).

    Returns the kept rows with ``mix_rank`` (per-source hash order) and
    ``cum_before`` (tokens accepted from this source before the row).
    """
    h = split_hash(F.col(id_col))
    w = Window.partitionBy(source_col).orderBy(h.asc(), F.col(id_col).asc())
    cum_before = F.coalesce(
        F.sum(size_col).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return (
        df.withColumn("mix_rank", F.row_number().over(w))
        .withColumn("cum_before", cum_before)
        .filter(F.col("cum_before") < budget_col)
    )


def shuffle_hash(id_col: Column, seed: str) -> Column:
    """Seeded portable hash for order randomization: a distinct seed gives
    an independent deterministic permutation (epoch reshuffles = new seed,
    identical plan)."""
    return hashing.portable_hash64(
        F.concat(F.lit(f"{seed}:"), id_col.cast("string"))
    )


def shuffle_hash_sql(id_expr: str, seed: str) -> str:
    return hashing.portable_hash64_sql(f"'{seed}:' || CAST({id_expr} AS VARCHAR)")


def train_order(
    df: DataFrame, id_col: str, seed: str = "epoch0", n_buckets: int = 1024
) -> DataFrame:
    """Deterministic global training-order shuffle: every example gets a
    ``(shuffle_bucket, shuffle_pos)`` coordinate; reading buckets in
    bucket order, each in position order, is a uniform random permutation
    of the corpus — reproducible across engines, runs, and partitionings
    (the replacement for ``orderBy(rand())``, which is neither).

    Scale shape: bucket = seeded-hash mod n_buckets is a row-local
    projection; positions are a per-bucket window — ONE exchange on the
    bucket key and a per-bucket sort, never a global sort (with
    ``n_buckets`` × executor-count tasks there is no single-reducer
    bottleneck, and writing ``partitionBy(shuffle_bucket)`` yields files a
    training reader streams in order). A new epoch is a new ``seed`` —
    same plan, independent permutation.
    """
    h = shuffle_hash(F.col(id_col), seed)
    out = df.withColumn(
        "shuffle_bucket", F.pmod(h, F.lit(n_buckets)).cast("int")
    ).withColumn("__h", h)
    w = Window.partitionBy("shuffle_bucket").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return out.withColumn("shuffle_pos", F.row_number().over(w)).drop("__h")


def length_batches(
    df: DataFrame,
    id_col: str,
    len_col: str,
    batch_size: int,
    bucket_width: int = 64,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Length-grouped batch assembly (dynamic-padding batching): bucket
    examples by length band (``floor((len-1)/bucket_width)`` — pure
    integer banding, no float log edge cases), order each band by
    (length, id), and cut it into fixed-size batches. Batching similar
    lengths together is what bounds padding waste when examples are padded
    to their batch max (``batch_pad = batch_max*|batch| - Σlen``).

    One exchange on the band key + one window pass; bands sort
    independently (no global sort), and batches never span bands. Emits
    ``len_bucket``, ``batch_idx``, ``batch_pos`` per row.

    ``partition_cols``: extra batching scopes ahead of the band — e.g.
    the epoch-shuffle bucket, so batches are length-homogeneous WITHIN a
    shuffle bucket and batch order still varies per epoch (the standard
    bucketed-shuffle + length-batching dataloader scheme; q105).
    """
    band = F.floor((F.col(len_col) - 1) / bucket_width).cast("int")
    out = df.withColumn("len_bucket", band)
    w = Window.partitionBy(*(partition_cols or []), "len_bucket").orderBy(
        F.col(len_col).asc(), F.col(id_col).asc()
    )
    rn = F.row_number().over(w) - 1
    return out.withColumn(
        "batch_idx", F.floor(rn / batch_size).cast("long")
    ).withColumn("batch_pos", (rn % batch_size).cast("int"))


def class_balance(df: DataFrame, label_col: str, id_col: str) -> DataFrame:
    """Class rebalancing by deterministic undersampling: keep exactly
    ``min(class sizes)`` uniformly-chosen rows of EVERY class (hash-ranked
    — reproducible, engine-portable), so downstream training sees a
    balanced label distribution without replacement or weighting.

    Scale shape: per-class counts are a map-side-combined aggregate to
    |classes| rows; the global min comes back as a broadcast single-row
    join; membership is a per-class rank window — one exchange of the
    corpus on the label key. Skew note: a dominant class makes that key
    hot in the window exchange; the window itself is a streaming rank
    (no buffering), so the cost is the sort of the hot partition —
    acceptable to |class| ~ billions; beyond that, pre-filter with an
    approximate per-class rate before the exact rank.
    """
    m = (
        df.groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.min("__n").alias("__min_class"))
    )
    h = shuffle_hash(F.col(id_col), "class-balance")
    w = Window.partitionBy(label_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("balance_rank", F.row_number().over(w))
        .join(F.broadcast(m))
        .filter(F.col("balance_rank") <= F.col("__min_class"))
        .drop("__min_class")
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int,
    stride: int,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows (the
    context-window chunking step before tokenizer/packing): chunk ``i``
    covers tokens ``[i*stride, i*stride + window)``; the last chunk may be
    short; empty documents produce no chunks.

    Pure projection + explode — zero shuffles; chunk text is carried as an
    md5 fingerprint (compact, join-friendly) plus its token count.
    """
    from ..functions import text as text_fns

    toks = text_fns.tokens(F.col(text_col))
    # sequence(0, -1, +step) raises rather than returning [] — guard empties
    starts = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    ex = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(starts).alias("__start"),
    )
    chunk = F.slice("__toks", F.col("__start") + 1, window)
    return ex.select(
        F.col(id_col),
        (F.col("__start") / stride).cast("long").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_tok"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def pack_next_fit(
    df: DataFrame,
    id_col: str,
    size_col: str,
    capacity: int,
    n_shards: int = 8,
) -> DataFrame:
    """Next-fit sequence packing of documents into fixed-capacity bins.

    Documents are sharded by id hash; within a shard (ordered by id) the
    next-fit rule runs: if the current bin cannot take the document, open a
    new bin. A document larger than ``capacity`` gets a bin of its own (and
    the next document always starts a fresh bin). The per-shard loop is a
    genuine sequential recurrence — not expressible as a prefix sum — so it
    runs as an Arrow-batched ``applyInPandas`` kernel per shard; everything
    around it (sharding, ordering) is relational.

    Returns ``(id, size, shard, bin, fill_after)`` with ``bin`` local to the
    shard and ``fill_after`` the bin's running fill after placing the row.
    """
    shard = (hashing.portable_hash64(F.col(id_col).cast("string")) % n_shards).cast("int")
    base = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(size_col).cast("long").alias(size_col),
    ).withColumn("shard", shard)

    schema = f"{id_col} long, {size_col} long, shard int, bin long, fill_after long"

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins: list[int] = []
        fills: list[int] = []
        fill, b = 0, -1
        for s in pdf[size_col]:
            s = int(s)
            if b < 0 or fill + s > capacity:
                b += 1
                fill = s
            else:
                fill += s
            bins.append(b)
            fills.append(fill)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        pdf["fill_after"] = pd.Series(fills, dtype="int64")
        return pdf[[id_col, size_col, "shard", "bin", "fill_after"]]

    return base.groupBy("shard").applyInPandas(_pack, schema=schema)


def bpe_train(
    docs: DataFrame, text_col: str, n_merges: int
) -> tuple[DataFrame, list[tuple[str, str, int]]]:
    """Learn ``n_merges`` BPE merges over the corpus (tokenizer training).

    Returns ``(vocab, merges)``: the final word table
    ``(w, freq, symbols: array<string>)`` after all merges are applied, and
    the learned merge list ``[(left, right, pair_count), ...]`` in learning
    order. Ties in pair counts break deterministically by (left, right).

    Scale shape — the corpus is scanned ONCE: tokenization collapses the
    token stream into the vocabulary-sized word-frequency table
    (map-side-combined aggregate), and every merge iteration after that
    touches only the vocab table: one pair-count aggregate + a global
    argmax (TakeOrdered(1) — the only driver transfer, one row per merge)
    + one projection that applies the merge with a leftmost-greedy
    ``F.aggregate`` fold (standard BPE application order). This mirrors the
    k-means build (similarity.kmeans_centroids): a driver-coordinated loop
    whose per-iteration state is O(1), with localCheckpoint every few
    rounds to truncate the growing lineage.
    """
    from ..functions import text as text_fns

    vocab = (
        # round-robin pre-exchange: spreads the tokenize stage across all
        # cores regardless of scan split count (r10; id column not in the
        # operator contract here, and the vocab aggregate re-keys anyway)
        docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select(F.explode(text_fns.tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("symbols", F.split("w", ""))
        .localCheckpoint()
    )

    merges: list[tuple[str, str, int]] = []
    for step in range(n_merges):
        pair_counts = (
            vocab.select(
                F.explode(
                    F.when(
                        F.size("symbols") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("symbols") - 1),
                            lambda i: F.struct(
                                F.element_at("symbols", i).alias("l"),
                                F.element_at("symbols", i + 1).alias("r"),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
                ).alias("p"),
                "freq",
            )
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p.l"), F.col("p.r"))
            .limit(1)
            .collect()
        )
        if not pair_counts:
            break
        top = pair_counts[0]
        left, right, cnt = top.p.l, top.p.r, top.cnt
        merges.append((left, right, int(cnt)))

        vocab = vocab.withColumn(
            "symbols", bpe_merge_fold("symbols", left, right)
        )
        if (step + 1) % 4 == 0:
            vocab = vocab.localCheckpoint()

    return vocab, merges


def bigram_lm_nll(
    train: DataFrame, score: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Per-document negative log-likelihood under an add-one-smoothed bigram
    LM trained on ``train`` — the CCNet/Gopher-style perplexity quality
    signal (docs whose text the corpus LM finds surprising score high and
    get filtered).

    p(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V); OOV history degrades to the
    uniform 1/V-ish floor via coalesce(c1, 0). Emits ``(id, n_bigrams,
    avg_nll)`` with avg_nll rounded 4dp (per-term ln values agree across
    IEEE engines to ~1 ulp; a doc's sum stays ~1e-13 from the oracle's, far
    inside the rounding).

    Scale shape: the model IS two count tables — unigrams and bigrams are
    vocab-sized map-side-combined aggregates of one training scan, then the
    scoring scan left-joins them. Both joins are broadcast here (LM count
    tables are vocab-sized, not corpus-sized); for a web-scale bigram table
    that outgrows the 64 MB ceiling, drop the hints and the same plan
    becomes two shuffle joins keyed on the bigram/unigram — nothing else
    changes. V rides along as a one-row broadcast cross join.

    r10: the scoring half emits (bg, w1) struct pairs straight from its
    token array, dropping the per-bigram regex re-split of w1. A
    single-pass TAGGED aggregate for the training half (unigrams+bigrams
    through one explode into one (kind, value)-keyed aggregate) was built
    and MEASURED WORSE (sf1 5.4 s -> 6.1 s): merging the near-unique
    bigram key space into the unigram partial-aggregate hash table defeats
    the map-side combine that makes the separate unigram pass cheap, and
    the struct wrap/unwrap per element costs more than the second regex
    tokenize it saves. The two-pass training form stands.
    """
    from ..functions import text as text_fns

    # id-hash pre-exchange on both scans: the tokenize/ngram explodes
    # (and the partial count aggregates fused into their stages) spread
    # across all cores regardless of scan split count (r10 — the
    # hashed_shingle_table discipline; bytes-based splitting serializes
    # text CPU on small/packed files)
    par = train.sparkSession.sparkContext.defaultParallelism
    train = train.repartition(par, F.col(id_col))
    score = score.repartition(par, F.col(id_col))
    txt = F.col(text_col)
    uni = (
        train.select(F.explode(text_fns.tokens(txt)).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bi = (
        train.select(F.explode(text_fns.word_ngrams(txt, 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("vocab"))

    bg_structs = F.when(
        F.size("__t") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__t") - 2),
            lambda i: F.struct(
                F.array_join(F.slice("__t", i + 1, 2), " ").alias("bg"),
                F.get("__t", i).alias("w1"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<bg:string,w1:string>>"))
    sb = (
        score.select(id_col, text_fns.tokens(txt).alias("__t"))
        .select(id_col, F.explode(bg_structs).alias("e"))
        .select(id_col, F.col("e.bg").alias("bg"), F.col("e.w1").alias("w1"))
    )
    lp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)) + 1)
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("vocab"))
    )
    return (
        sb.join(F.broadcast(bi), "bg", "left")
        .join(F.broadcast(uni), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(id_col, lp.alias("lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.sum("lp") / F.count(F.lit(1)), 4).alias("avg_nll"),
        )
    )


def bpe_merge_fold(symbols_col, left: str, right: str) -> Column:
    """Leftmost-greedy application of ONE merge to a symbol array: fold
    over the symbols, replacing the accumulator's tail when
    (tail, next) == (left, right). Shared by training (bpe_train) and
    tokenization (bpe_apply) so both produce the identical segmentation."""
    merged = F.concat(F.lit(left), F.lit(right))
    return F.aggregate(
        symbols_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) >= 1)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Tokenize a corpus with a learned BPE merge list: per-token subword
    pieces, ``(id, pos, w, pieces: array<string>)``.

    Scale shape — the merge loop never touches the token stream: merges
    apply as chained folds over the DISTINCT-word table (vocabulary-sized,
    one exchange to build), and the segmented vocabulary broadcast-joins
    back onto the token stream, so per-token cost is a hash probe. This is
    the standard word-cache trick every production BPE tokenizer uses,
    expressed relationally; a vocabulary too large to broadcast downgrades
    the probe to a shuffle join on ``w`` with no other change.
    """
    from ..functions import text as text_fns

    toks = text_fns.tokens(F.col(text_col))
    words = docs.select(F.explode(toks).alias("w")).distinct()
    words = words.withColumn("symbols", F.split("w", ""))
    for left, right, _ in merges:
        words = words.withColumn("symbols", bpe_merge_fold("symbols", left, right))
    stream = docs.select(
        id_col, F.posexplode(toks).alias("pos", "w")
    )
    return stream.join(F.broadcast(words), "w").select(
        id_col, "pos", "w", F.col("symbols").alias("pieces")
    )
