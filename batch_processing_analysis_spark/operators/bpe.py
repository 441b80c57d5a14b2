"""Distributed BPE subword vocabulary training + segmentation (M46
scale extension) — byte-pair encoding per Sennrich, Haddow & Birch 2016
("Neural Machine Translation of Rare Words with Subword Units", public
algorithm): repeatedly merge the most frequent adjacent symbol pair.

Spark-first shape:

- **The corpus never re-enters the loop.** Training state is the
  DISTINCT-WORD table ``(syms array<string>, wcount)`` — the classic
  word-frequency dictionary, orders of magnitude smaller than the
  corpus (Heaps' law) and the same reduction the reference algorithm
  makes. One corpus pass builds it; every round after that touches only
  the vocab.
- **One scalar decision per round.** Each merge round is: pair counts
  (zip-shifted slices → explode → partial-aggregatable sum weighted by
  ``wcount``) → argmax pair to the driver (ties → lexicographic, so
  training is deterministic) → a NARROW per-row array fold rewriting
  every word. This is the CC/fixpoint discipline (operators/graph.py):
  a driver loop is the correct distributed shape when each iteration is
  fully distributed and only a scalar crosses the boundary.
- **Greedy-leftmost merging is a left fold.** The published merge
  semantics (leftmost, non-overlapping) falls out of a single
  ``aggregate``: append, or fuse with the accumulator's last element
  when it matches the pair — after a fuse the last element is the
  merged symbol, so an overlapping second match cannot fire. No UDF.
- Each round's vocab is eager-localCheckpointed and the previous
  round's blocks released (operators/checkpoints.py) — k rounds hold
  ONE vocab copy, and lineage stays flat.

Segmentation (``bpe_segment``) replays the merge list in rank order as
k chained folds inside ONE narrow projection — zero shuffles, zero
Python; the merge table is plan literals (bounded: k ≤ a few hundred,
the classic demo regime — a 50k-merge production vocab would move the
merges into a broadcast join per rank, which this layout supports but
does not need at demo k).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .checkpoints import data_barrier, release
from .dedup import tokens

END = "</w>"


def _word_syms(word: Column) -> Column:
    """Characters of ``word`` with the end-of-word marker fused onto
    the last character (the Sennrich setup, so word-final subwords are
    distinct from word-internal ones)."""
    chars = F.split(word, "")
    n = F.size(chars)
    return F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(END))),
    )


def _merge_fold(syms: Column, a: str, b: str) -> Column:
    """Greedy-leftmost merge of adjacent pair (a, b) → a+b, as a left
    fold (see module docstring for why the fold IS the published
    semantics)."""
    empty = F.array().cast("array<string>")
    return F.aggregate(
        syms,
        empty,
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The training state: one row per distinct word —
    ``(syms array<string>, wcount)`` with ``syms`` = characters plus
    the ``</w>`` marker."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("wcount"))
        .select(_word_syms(F.col("_w")).alias("syms"), "wcount")
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    s = F.col("syms")
    n = F.size(s)
    pairz = F.zip_with(
        F.slice(s, 1, n - 1),
        F.slice(s, 2, n - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    return (
        words.filter(n >= 2)
        .select(F.explode(pairz).alias("_p"), "wcount")
        .groupBy(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .agg(F.sum("wcount").alias("cnt"))
    )


def bpe_train(docs: DataFrame, num_merges: int = 32,
              text_col: str = "text",
              min_pair_count: int = 2) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``num_merges`` BPE merges from the corpus.

    Returns ``(merges, words)``: the ordered merge list and the final
    symbolized word table ``(syms, wcount)``. Stops early when the best
    remaining pair occurs fewer than ``min_pair_count`` times.

    Determinism: argmax ties break lexicographically on (a, b), so the
    merge list is a pure function of the corpus.
    """
    words = data_barrier(word_counts(docs, text_col), eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = (
            _pair_counts(words)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_pair_count:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        new = data_barrier(
            words.select(_merge_fold(F.col("syms"), a, b).alias("syms"),
                         "wcount"),
            eager=True,
        )
        new.count()  # materialize before releasing the parent's blocks
        release(words)
        words = new
    return merges, words


def bpe_segment(docs: DataFrame, merges: list[tuple[str, str]],
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Segment every document with a learned merge list.

    Returns ``(id_col, bpe_tokens array<string>, n_bpe_tokens)``;
    token order is document order (words) × left-to-right (subwords).

    Shape: the k chained merge folds run ONCE PER DISTINCT WORD (a
    Heaps'-law-bounded table), then document words map through that
    segmented vocabulary with an equi-join and re-assemble in order.
    Folding inline per word OCCURRENCE — the obvious one-projection
    form — re-evaluates the k-deep fold ~corpus-length times and
    measured 20× slower at sf0.1; hot words ("the") join a one-row
    build side, so the word join is skew-benign.
    """
    def seg_word(w: Column) -> Column:
        out = _word_syms(w)
        for a, b in merges:
            out = _merge_fold(out, a, b)
        return out

    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("_w"))
        .distinct()
        .select("_w", seg_word(F.col("_w")).alias("_syms"))
    )
    tok = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("_pos", "_w")
    )
    per_doc = (
        tok.join(vocab, "_w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_syms"))),
                    lambda s: s["_syms"],
                )
            ).alias("bpe_tokens")
        )
    )
    empty = F.array().cast("array<string>")
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("bpe_tokens", empty).alias("bpe_tokens"),
        F.size(F.coalesce("bpe_tokens", empty)).alias("n_bpe_tokens"),
    )
