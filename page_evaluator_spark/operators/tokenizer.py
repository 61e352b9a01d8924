"""Tokenizer training: byte-pair-encoding merges as an iterative Spark job.

The last training-data pipeline stage the engine lacked: before a corpus is
packed into sequences it is tokenized, and the tokenizer itself is TRAINED
on the corpus (Sennrich et al. 2016 — BPE).  The classic algorithm is
corpus-scale only once: training state is the WORD-FREQUENCY table
(vocabulary-sized, ≪ corpus), and each merge round touches only that table:

    vocab = corpus tokens → groupBy(word).count()      -- the ONE corpus pass
    repeat K times:
        pair counts  = adjacent symbol pairs weighted by word count (one
                       vocabulary-sized agg, map-side combined)
        best pair    = max total, ties → lexicographically smallest (ONE
                       collected row per round — deterministic)
        merge        = rewrite every word's symbol string, leftmost-first

Symbol representation: every symbol is wrapped in its OWN spaces and the
wrapped symbols concatenated — " a  b  c " (double space between symbols,
single at the ends).  Merging pair (A, B) is then
replace(" A  B ", " AB "): the search pattern is fully delimiter-anchored
(no false prefix match against a longer symbol like "bc"), and because
adjacent occurrences share NO characters, plain left-to-right
non-overlapping string replace — identical semantics in Spark and DuckDB —
implements exactly BPE's greedy leftmost single-pass merge, including runs
(" a  a  a " with pair (a,a) → " aa  a ").  The whole derivation, every
intermediate vocabulary state included, therefore has an exact generated
SQL twin.  All counts are integers and the tiebreak is lexicographic →
bit-deterministic at any parallelism.

Scale notes: real tokenizers run ~30k merges; the per-round cost here is a
vocabulary-table agg + one driver-collected row, so rounds are cheap and the
corpus is never re-touched.  Lineage is truncated per round exactly like the
other iterative operators (connected components, PageRank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import PORTABLE_TOKEN_RE


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over lowercased portable tokens — the one corpus pass."""
    from .skew import ensure_min_parallelism

    toks = (ensure_min_parallelism(docs)
            .select(F.explode(F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(PORTABLE_TOKEN_RE), 0)).alias("word")))
    return toks.groupBy("word").agg(F.count("*").alias("cnt"))


def _to_symbols(word):
    """' a  b  c ' — each single-character symbol wrapped in its own spaces
    (see module docstring for why the wrapping matters)."""
    return F.regexp_replace(word, "(.)", " $1 ")


def bpe_train(docs: DataFrame, n_merges: int = 8,
              text_col: str = "text") -> list[tuple[int, str, str, int]]:
    """Learn n_merges BPE merges from the corpus.

    Returns [(rank, pair "A B", merged "AB", frequency)] — the merge table a
    tokenizer ships.  Deterministic (integer counts, lexicographic ties).
    """
    def _truncate_vocab(df: DataFrame) -> DataFrame:
        # Reliable checkpoint when a dir is configured (cluster-safe), else a
        # LAZY localCheckpoint: the per-round best-pair collect is the next
        # action anyway, so it materializes the truncation in the same job —
        # the r6 eager form ran a separate materialization job per round
        # (~7% of training wall at 10× sf0.1; equality pinned in the A/B).
        sc = df.sparkSession.sparkContext
        return (df.checkpoint() if sc.getCheckpointDir() is not None
                else df.localCheckpoint(eager=False))

    vocab = _truncate_vocab(
        word_vocab(docs, text_col).select(_to_symbols(F.col("word")).alias("syms"),
                                          "cnt"))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        syms_arr = F.split(F.trim(F.col("syms")), "  ")
        pairs = F.transform(
            F.sequence(F.lit(1), F.size(syms_arr) - 1),
            lambda i: F.concat_ws(" ", F.element_at(syms_arr, i),
                                  F.element_at(syms_arr, i + 1)))
        counted = (vocab.where(F.size(syms_arr) >= 2)
                   .select(F.explode(pairs).alias("pair"), "cnt")
                   .groupBy("pair").agg(F.sum("cnt").alias("total"))
                   .orderBy(F.col("total").desc(), "pair")
                   .limit(1).collect())
        if not counted:
            break  # every word is a single symbol — nothing left to merge
        pair, total = counted[0]["pair"], int(counted[0]["total"])
        a, b = pair.split(" ")
        merges.append((rank, pair, a + b, total))
        if rank == n_merges - 1:
            break  # the post-final-merge vocabulary is never read — skip
            # rewriting and checkpointing it (one round's worth of jobs)
        vocab = _truncate_vocab(vocab.select(
            F.replace(F.col("syms"), F.lit(f" {a}  {b} "), F.lit(f" {a + b} "))
            .alias("syms"), "cnt"))
    return merges


def bpe_encode_counts(docs: DataFrame, n_merges: int = 8,
                      text_col: str = "text", id_col: str = "doc_id"
                      ) -> DataFrame:
    """Apply the corpus-trained merges back to the corpus — the encode half
    of the tokenizer loop (train → ship merge table → tokenize): per
    document, how many symbols the text is before (= chars) and after the
    learned merges.  The merge table is a driver-side list (K rows, the
    artifact a tokenizer ships); applying it is a PURE PROJECTION — K
    chained delimiter-anchored replaces on the spaced-symbol string, fully
    codegen'd, zero shuffle until the per-doc sum.

    Returns (doc_id, n_words, n_base_syms, n_bpe_syms)."""
    from .skew import ensure_min_parallelism

    merges = bpe_train(docs, n_merges, text_col)
    words = (ensure_min_parallelism(docs)
             .select(F.col(id_col).alias("doc_id"),
                     F.explode(F.regexp_extract_all(
                         F.lower(F.col(text_col)),
                         F.lit(PORTABLE_TOKEN_RE), 0)).alias("word")))
    spaced = _to_symbols(F.col("word"))
    for _rank, pair, merged, _freq in merges:
        a, b = pair.split(" ")
        spaced = F.replace(spaced, F.lit(f" {a}  {b} "), F.lit(f" {merged} "))
    n_syms = F.size(F.split(F.trim(spaced), "  "))
    return (words.select("doc_id", F.length("word").alias("n_chars"),
                         n_syms.alias("n"))
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_words"),
                 F.sum("n_chars").cast("bigint").alias("n_base_syms"),
                 F.sum("n").cast("bigint").alias("n_bpe_syms")))
