"""Distributed BPE tokenizer training (byte-pair-encoding merge learning).

Sennrich et al., "Neural Machine Translation of Rare Words with Subword
Units" (ACL 2016): starting from characters, repeatedly merge the most
frequent adjacent symbol pair. The training-data pipelines this engine
targets need the trainer ON the cluster — the corpus word count is the
100 TB-scale stage, and the merge loop then runs over the aggregated
vocabulary relation, which is orders of magnitude smaller but can still be
tens of millions of (word, pos, symbol) rows — too big to collect.

Spark shape, per merge round (driver loop, like operators/graph.pagerank).
State is ONE ROW PER VOCAB WORD — (word, n, syms array<string>) — not one
row per symbol occurrence (round 11; the exploded form paid a LEAD window
shuffle for adjacency plus two joins and two windows for the rebuild,
EVERY round — measured 3.9→1.1 s at sf0.1, identical merge table):

1. adjacency is free: pairs come from zipping ``syms`` with itself
   shifted by one — a narrow in-row expression, no window, no shuffle;
2. pair counts: one keyed groupBy with map-side partials (the ONLY
   shuffle per round); the argmax pair (count DESC, pair ASC — fully
   deterministic tie-break) is the ONLY driver-side collect, one row per
   round. A round-11 experiment kept the argmax distributed instead
   (broadcast 1-row relation cross-joined into the rebuild, merge
   metadata collected once post-loop): measured A/B at sf0.1 it DOUBLED
   the wall (4.5 → 8.5 s) — the per-round BroadcastExchange +
   nested-loop join under the eager checkpoint costs more than the
   one-row collect it replaces — so the collect stays;
3. leftmost-first merge as an in-row left fold (``aggregate``): append
   each symbol unless the accumulator's last element equals LEFT and the
   incoming symbol equals RIGHT, in which case replace the last element
   with LEFT||RIGHT. The fold reproduces greedy left-to-right semantics
   exactly: a merged token LEFT||RIGHT can never equal LEFT (RIGHT is
   non-empty), so merges never chain, and in a self-pair run like
   "aaaa" the fold takes exactly every other candidate — the same
   odd-ranked-in-run selection the previous window algebra encoded;
4. rebuild: the fold above IS the rebuild — a narrow map, zero shuffle.
   The loop runs through ``caching.iterate`` with the argmax collect as
   its convergence test, so each round's state (one row per vocab word)
   is checkpointed lazily and that collect materialises it.

Everything is deterministic — counts are exact integers, ties break
lexicographically — so the DuckDB oracle unrolls the same algebra as
K materialized CTE blocks and hash-matches the merge table bit for bit.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..caching import iterate
from .text_analysis import tokens_raw


@dataclass(frozen=True)
class BpeResult:
    """Learned merge list [(rank, left, right, pair_count)] + final vocab
    state (word, n, syms array<string> — position = array index)."""

    merges: list[tuple[int, str, str, int]]
    state: DataFrame


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word frequencies — the only stage that touches raw text."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_state(wc: DataFrame) -> DataFrame:
    """(word, n, syms): one array element per character."""
    return wc.select("word", "n", F.split("word", "").alias("syms"))


def train(docs: DataFrame, k: int, text_col: str = "text") -> BpeResult:
    """Learn ``k`` BPE merges over the corpus. Executes jobs while
    building (iterative — not a lazy plan): each round's one-row argmax
    collect over the pair-count groupBy (the only shuffle), which also
    materialises the round's lazily checkpointed state (the
    distributed-argmax variant was measured SLOWER — see the module
    docstring).

    Round r folds in merge r-1 and then finds merge r, so round 1 only
    checkpoints the initial state and round k+1 only folds in merge k;
    q186 consumes only the collected merges, so that final state never
    materialises on its path (q187's segmentation is its one consumer)."""
    merges: list[tuple[int, str, str, int]] = []

    def fold_last(state: DataFrame) -> DataFrame:
        if not merges:
            return state
        _, left, right, _ = merges[-1]
        # Greedy leftmost-first merge as an in-row left fold — see the
        # module docstring for the equivalence argument. F.lit() carries
        # the symbols (never f-string SQL: corpus symbols can contain
        # quotes/backslashes).
        merged_sym = F.array(F.lit(left + right))
        fold = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (s == F.lit(right)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), merged_sym),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        return state.select("word", "n", fold.alias("syms"))

    def next_merge(state: DataFrame) -> bool:
        """Append the most frequent adjacent pair; True when done."""
        if len(merges) == k:
            return True
        # adjacency in-row: element i paired with element i+1
        pair_counts = (
            state.filter(F.size("syms") >= 2)
            .select(
                "n",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("sym"), b.alias("nxt")),
                    )
                ).alias("p"),
            )
            .groupBy("p.sym", "p.nxt")
            .agg(F.sum("n").alias("cnt"))
        )
        top = (
            pair_counts.orderBy(
                F.col("cnt").desc(), F.col("sym").asc(), F.col("nxt").asc()
            )
            .limit(1)
            .collect()
        )
        if top:  # else every word is a single symbol — nothing left to merge
            merges.append((len(merges) + 1, top[0].sym, top[0].nxt, int(top[0].cnt)))
        return not top

    state = iterate(
        _initial_state(word_counts(docs, text_col)), fold_last, k + 1, until=next_merge
    )
    return BpeResult(merges=merges, state=state)


def merge_table(spark, result: BpeResult) -> DataFrame:
    """The learned merges as a relation (the tokenizer artifact)."""
    return spark.createDataFrame(
        result.merges,
        "merge_rank bigint, left_sym string, right_sym string, pair_n bigint",
    )


def vocab_segmentation(result: BpeResult) -> DataFrame:
    """Post-training segmentation of every vocab word:
    (word, n, segmented, n_tokens) — what the encoder would emit.
    Narrow map over the array state (round 11: the exploded state needed
    a groupBy + collect_list shuffle to reassemble what the array form
    already holds in order)."""
    return result.state.select(
        "word",
        "n",
        F.array_join("syms", " ").alias("segmented"),
        F.size("syms").cast("long").alias("n_tokens"),
    )


def unigram_viterbi(
    docs: DataFrame,
    text_col: str = "text",
    max_piece: int = 4,
    max_word_len: int = 12,
) -> DataFrame:
    """SentencePiece-style unigram-LM E-step: Viterbi-segment every
    vocabulary word under substring-frequency piece probabilities.

    Pieces are all substrings of length 1..``max_piece``; p(piece) is its
    corpus-weighted occurrence share; the Viterbi DP maximises the summed
    log-probability of a segmentation (ties: fewer pieces, then the
    smallest split point). Returns (word, corpus_freq, n_pieces,
    logprob).

    The DP is VECTORISED over the vocabulary relation: position j's best
    prefix score is one join+argmax over positions j-max_piece..j-1, so
    the whole E-step is ``max_word_len`` relational steps (no UDF, no
    per-word loop) - each step a vocabulary-keyed join, which is exactly
    the shape that scales: 100 TB of text collapses to a vocabulary
    relation first, and every DP step shuffles only that.

    Log scores are frozen to round(10^6 * ln(pf/total)) integers so the
    argmax cannot wobble across engines; ties break deterministically.
    """
    from ..caching import persist_tracked

    words = (
        docs.select(
            F.explode(tokens_raw(F.col(text_col))).alias("word")
        )
        .filter(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    words = persist_tracked(words)
    sub = (
        words.select(
            "word",
            "f",
            F.explode(F.sequence(F.lit(0), F.length("word") - 1)).alias("i"),
        )
        .select(
            "word",
            "f",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece), F.length("word") - F.col("i")),
                )
            ).alias("L"),
        )
        .select(
            "word",
            "f",
            "i",
            (F.col("i") + F.col("L")).alias("j"),
            F.substr(F.col("word"), F.col("i") + 1, F.col("L")).alias("piece"),
        )
    )
    pf = sub.groupBy("piece").agg(F.sum("f").alias("pf"))
    tot = pf.agg(F.sum("pf").alias("tot"))
    sc = pf.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.round(
            1000000.0 * F.log(F.col("pf").cast("double") / F.col("tot"))
        )
        .cast("long")
        .alias("s"),
    )
    pp = persist_tracked(
        sub.join(sc, "piece").select("word", "i", "j", "s")
    )

    b: list[DataFrame] = [
        words.select(
            "word",
            F.lit(0).cast("long").alias("sc"),
            F.lit(0).cast("long").alias("np"),
        )
    ]
    for j in range(1, max_word_len + 1):
        cands = None
        for i in range(max(0, j - max_piece), j):
            c = (
                pp.filter((F.col("i") == i) & (F.col("j") == j))
                .join(b[i], "word")
                .select(
                    "word",
                    (F.col("sc") + F.col("s")).alias("csc"),
                    (F.col("np") + 1).alias("cnp"),
                    F.lit(i).cast("long").alias("bi"),
                )
            )
            cands = c if cands is None else cands.unionByName(c)
        best = (
            cands.groupBy("word")
            .agg(
                F.max(
                    F.struct(
                        F.col("csc").alias("sc"),
                        (-F.col("cnp")).alias("nnp"),
                        (-F.col("bi")).alias("nbi"),
                    )
                ).alias("m")
            )
            .select(
                "word",
                F.col("m.sc").alias("sc"),
                (-F.col("m.nnp")).cast("long").alias("np"),
            )
        )
        # localCheckpoint (not persist): each level references up to
        # ``max_piece`` prior levels, so an un-truncated lineage would grow
        # ~4^12 analyzer nodes - checkpointing keeps every DP step's plan
        # flat. Not ``caching.iterate``: the DP keeps every level, not one
        # state.
        b.append(best.localCheckpoint(eager=True))

    out = None
    for j in range(1, max_word_len + 1):
        part = (
            words.filter(F.length("word") == j)
            .join(b[j], "word")
            .select(
                "word",
                F.col("f").cast("long").alias("corpus_freq"),
                F.col("np").cast("long").alias("n_pieces"),
                F.round(F.col("sc") / 1000000.0, 4).alias("logprob"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out
