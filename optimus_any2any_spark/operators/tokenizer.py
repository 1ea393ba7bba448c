"""Distributed BPE tokenizer training (the word-frequency formulation).

Byte-pair encoding training (Sennrich et al. 2016, arXiv:1508.07909)
is the standard subword-vocabulary builder for LLM pipelines. The
scale insight every production trainer uses (HuggingFace tokenizers,
SentencePiece): BPE never needs the corpus after the first pass — it
operates on the WORD-FREQUENCY TABLE. So the corpus-scale work is one
word-count shuffle (map-side combined), and every merge iteration runs
at vocabulary scale.

Merge application uses a delimiter-wrapped symbol string —
``low`` → ``<l><o><w>`` — so that applying merge (l, o) is a plain
non-overlapping left-to-right ``replace('<l><o>', '<lo>')``, which is
EXACTLY greedy BPE application semantics (``<a><a><a>`` merges the
first pair only), and the wrapping makes false sub-symbol matches
impossible (``<a>`` cannot match inside ``<ba>``). Both Spark and
DuckDB implement ``replace`` with these semantics, which is what lets
the full iterative trainer be hash-verified against a SQL oracle —
each step is: pair-count aggregation (one vocab-scale shuffle with
partial aggregation), a 1-row argmax (count desc, pair lexicographic
tie-break), then a broadcast-1-row join applying the replace.

Pre-tokenization is lowercase + whitespace split + ASCII-alpha filter
(the classic whitespace pretokenizer, restricted to [a-z]+ so both
engines' regex/char semantics provably agree; real multilingual
pretokenization is a normalization question, not a BPE one).

At 100 TB: corpus → one explode+groupBy(word) shuffle; the vocabulary
table (persisted — every iteration reads it) is millions of rows at
web scale, so k merge steps are k tiny jobs; the chosen pair moves by
broadcast, never a collect. No Python in any path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def bpe_word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (w, cnt): the one corpus-scale pass of BPE training."""
    words = df.select(
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("w")
    )
    return (
        words.filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _pair_counts(cur: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over the wrapped sequences,
    weighted by word frequency. One shuffle, map-side combined. The
    symbol array is bound once per word, so each pair indexes it
    instead of re-splitting the sequence."""
    syms = cur.select(
        "cnt",
        F.split(
            F.substring(F.col("seq"), 2, F.length("seq") - 2), "><"
        ).alias("syms"),
    )
    s = F.col("syms")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(s) - 1),
        lambda i: F.struct(
            F.element_at(s, i).alias("l"),
            F.element_at(s, i + 1).alias("r"),
        ),
    )
    return (
        syms.filter(F.size(s) >= 2)
        .select("cnt", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("total"))
    )


def bpe_merge_steps(
    df: DataFrame, text_col: str = "text", n_merges: int = 3
) -> DataFrame:
    """Train ``n_merges`` BPE merges; returns the merge table
    (step, left_sym, right_sym, merged, pair_count) ordered by step —
    the artifact a tokenizer ships."""
    wc = bpe_word_counts(df, text_col)
    cur = wc.select(
        "w",
        "cnt",
        F.regexp_replace("w", "(.)", "<$1>").alias("seq"),
    )
    # Iteration discipline (the standard Spark iterative-algorithm
    # trio, cf. ALS/GraphX):
    #  * each step's winner is a ONE-row model — collect it (k-row-
    #    model collect, like centroids) and apply it as literals;
    #  * localCheckpoint per step TRUNCATES the logical plan — a
    #    persist() alone leaves the analyzed plan growing with every
    #    nested select, and analysis cost turns exponential past ~10
    #    steps (measured: step 14 took 12x step 5 under the r4 shape).
    #    The checkpoint is LAZY: the next step's pair-count collect is
    #    a global top-k (every partition computes), so it materializes
    #    the checkpoint as a side effect — an eager checkpoint here
    #    was a whole duplicate pass over the vocabulary per step;
    #  * the superseded step's checkpoint blocks are unpersisted
    #    explicitly (via the JavaSparkContext persistent-RDD map —
    #    a checkpointed frame's blocks are not in the SQL cache
    #    manager) — but only AFTER the step built on them has
    #    materialized (a truncated-lineage frame cannot recompute
    #    dropped blocks), so a 30k-merge run pins at most TWO
    #    vocabulary snapshots instead of 30k.
    spark = df.sparkSession
    sc = spark.sparkContext

    def _pinned_ids() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    def _drop_blocks(ids: set[int]) -> None:
        jmap = sc._jsc.getPersistentRDDs()
        for rid in ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)

    before = _pinned_ids()
    cur = cur.localCheckpoint(eager=False)
    cur_ids = _pinned_ids() - before
    prev_ids: set[int] = set()
    merge_rows: list[tuple] = []
    for step in range(1, n_merges + 1):
        top = (
            _pair_counts(cur)
            .orderBy(F.col("total").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        # the top-k collect materialized cur's checkpoint (global
        # sort: every partition computed) — its parent is now free
        _drop_blocks(prev_ids)
        prev_ids = set()
        if not top:
            break  # vocabulary fully merged: no pair left
        r = top[0]
        merge_rows.append(
            (step, r["l"], r["r"], r["l"] + r["r"], r["total"])
        )
        before = _pinned_ids()
        nxt = cur.select(
            "w",
            "cnt",
            F.replace(
                F.col("seq"),
                F.lit(f"<{r['l']}><{r['r']}>"),
                F.lit(f"<{r['l']}{r['r']}>"),
            ).alias("seq"),
        ).localCheckpoint(eager=False)
        new_ids = _pinned_ids() - before
        prev_ids = cur_ids  # dropped after nxt materializes next loop
        cur, cur_ids = nxt, new_ids
    _drop_blocks(prev_ids)
    _drop_blocks(cur_ids)
    from optimus_any2any_spark.localrel import local_rows_df

    return local_rows_df(
        spark,
        merge_rows,
        T.StructType([
            T.StructField("step", T.IntegerType(), False),
            T.StructField("left_sym", T.StringType(), False),
            T.StructField("right_sym", T.StringType(), False),
            T.StructField("merged", T.StringType(), False),
            T.StructField("pair_count", T.LongType(), False),
        ]),
    ).orderBy("step")


def bpe_encode(
    df: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """Apply a trained merge list to a corpus: adds ``bpe_tokens``
    (array<string>) and ``bpe_token_count``. Merges apply in training
    order — BPE's inference rule — as chained column expressions
    (no shuffle, no Python)."""
    seq = F.regexp_replace(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"[^a-z ]", ""
    )
    seq = F.regexp_replace(F.trim(seq), "(.)", "<$1>")
    seq = F.replace(seq, F.lit("< >"), F.lit("|"))  # word boundary
    for left, right in merges:
        seq = F.replace(
            seq,
            F.lit(f"<{left}><{right}>"),
            F.lit(f"<{left}{right}>"),
        )
    toks = F.filter(
        F.flatten(
            F.transform(
                F.split(seq, r"\|"),
                lambda wseq: F.split(
                    F.regexp_replace(wseq, "^<|>$", ""), "><"
                ),
            )
        ),
        lambda t: t != "",
    )
    return df.withColumn("bpe_tokens", toks).withColumn(
        "bpe_token_count", F.size("bpe_tokens")
    )
