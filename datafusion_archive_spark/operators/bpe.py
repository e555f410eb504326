"""Byte-pair-encoding merge training — the iterative tokenizer-prep
pass (Sennrich et al. 2016) expressed Spark-first.

Scale design: the ONLY corpus-sized operation is the initial word-
frequency aggregation (one scan, one shuffle on the word). The JVM
then splits each distinct word into its symbol string, and all merge
rounds run in Python as ONE mapInArrow task over that DISTINCT-WORD
table (operators.util.one_task) — vocab-sized, orders of magnitude
below the corpus at any scale (31 rows at every shipped scale), so the
loop is bound by per-job fixed cost, not data, and no per-merge job
runs. Encoding (bpe_encode) is pure JVM expressions (array transform
+ regexp_replace).

The reference engine has no tokenizer surface (its roadmap stops at
batch SQL, ``/root/reference/ROADMAP.md:36-56``); this operator belongs
to the training-data-pipeline extension mandate. Correctness is pinned
differentially against a pure-Python reference BPE in
tests/test_round5b.py and by an exact DuckDB oracle of the unrolled
trainer (queries/pipeline4._bpe_merges_oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datafusion_archive_spark.operators.util import one_task

#: end-of-word marker, as in the original BPE formulation — keeps
#: merges from crossing word boundaries when pairs are counted.
EOW = "</w>"


def _quote(sym: str) -> str:
    """Literal-quote a symbol for a Java regex (\\Q…\\E)."""
    return "\\Q" + sym.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, freq): the one corpus-sized step. Whitespace
    tokenization over the normalized text; the aggregation shuffles
    only (word, partial count) with map-side combine. (A ``spread``
    here was measured and rejected in round 15: the normalize+split
    kernel is cheap enough that the round-robin shuffle cost ~10%
    instead of saving any — unlike the encode side, whose per-word
    regex chain is the heavy kernel.)"""
    from datafusion_archive_spark.functions import text as TX

    return (
        docs.select(
            F.explode(
                F.split(TX.normalize_text(F.col(text_col)), " ")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _symbols(word):
    """A word's symbol string: its characters space-separated, then the
    end-of-word mark. Java's ``(.)`` does not match line terminators
    such as U+0085, so they stay glued to the next character."""
    return F.concat(
        F.trim(F.regexp_replace(word, "(.)", "$1 ")), F.lit(" " + EOW)
    )


def _bpe_kernel(n_merges: int):
    """util.one_task kernel: all ``n_merges`` training rounds over the
    (freq, syms) table in Python. ``syms`` is split on the spaces
    _symbols put in, never re-split from the word."""

    def fn(t):
        from collections import Counter

        import pyarrow as pa

        vocab = Counter()
        for syms, freq in zip(t["syms"].to_pylist(), t["freq"].to_pylist()):
            if syms is not None and freq is not None:
                vocab[tuple(syms.split(" "))] += freq
        merges = []
        for idx in range(n_merges):
            counts = Counter()
            for ws, f in vocab.items():
                for pair in zip(ws, ws[1:]):
                    counts[pair] += f
            if not counts:
                break
            # ties break on the joined pair string, not on the tuple:
            # ("a", "b") < ("a\x01", "c") but "a\x01 c" < "a b"
            (left, right), n = min(
                counts.items(), key=lambda kv: (-kv[1], " ".join(kv[0]))
            )
            merges.append((idx, left, right, n))
            new = Counter()
            for ws, f in vocab.items():
                # left-to-right, non-overlapping: "a a a" under merge
                # (a,a) becomes "aa a"
                out, i = [], 0
                while i < len(ws):
                    if ws[i : i + 2] == (left, right):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(ws[i])
                        i += 1
                new[tuple(out)] += f
            vocab = new
        if merges:
            types = [pa.int32(), pa.string(), pa.string(), pa.int64()]
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, ty) for c, ty in zip(zip(*merges), types)],
                names=["merge_idx", "left", "right", "pair_freq"],
            )

    return fn


def _train(words: DataFrame, n_merges: int) -> DataFrame:
    """The lazy merge-table frame over a (word, freq) table: the JVM
    symbolizes each word, then one task runs every merge round."""
    return one_task(
        words.select("freq", _symbols(F.col("word")).alias("syms")),
        _bpe_kernel(n_merges),
        "merge_idx INT, left STRING, right STRING, pair_freq BIGINT",
    )


def bpe_merges(words: DataFrame, n_merges: int = 10) -> list[tuple]:
    """Learn the first ``n_merges`` BPE merges from a (word, freq)
    table of space-free words (as word_frequencies produces). Returns
    ``[(merge_idx, left, right, pair_freq), …]`` in merge order.

    Each round: count adjacent symbol pairs weighted by word
    frequency, take the argmax (ties break on the space-joined pair
    string so the result is deterministic), then rewrite every
    word's symbols left to right without overlap — the exact greedy
    semantics of the reference BPE algorithm."""
    return [tuple(r) for r in _train(words, n_merges).collect()]


def bpe_merge_table(
    spark, docs: DataFrame, n_merges: int = 10, text_col: str = "text"
) -> DataFrame:
    """End-to-end: corpus -> lazy ordered merge table with columns
    (merge_idx, left, right, pair_freq); an empty corpus gives no
    rows."""
    return _train(word_frequencies(docs, text_col), n_merges)


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize text with a learned merge list — the apply side of
    :func:`bpe_merges`. Returns (id, tokens array<string>, n_tokens).

    Semantics: each merge is applied once, in rank order, as a greedy
    left-to-right non-overlapping rewrite — the exact mirror of the
    rewrite the vocabulary underwent during training, so a word seen
    in training reproduces its trained segmentation verbatim. (The
    classic "repeat lowest-rank applicable merge" loop differs only in
    pathological vocabularies where two different merges concatenate
    to the same symbol string; the differential test pins this
    single-pass-in-order definition.)

    Scale: map-only. The merge chain compiles to nested JVM
    regexp_replace calls inside an array transform — no Python in the
    row path, nothing shuffles, and the merge list itself is
    vocabulary-sized (the same object every tokenizer broadcasts).
    ``spread`` guards the one failure mode of map-only kernels
    (round 15): a small-file scan is ONE task, serializing every
    regex pass on one core regardless of cluster width — a no-op on
    any at-scale table, a tiny round-robin shuffle otherwise.
    """
    from datafusion_archive_spark.functions import text as TX
    from datafusion_archive_spark.operators.util import spread

    docs = spread(docs)

    def encode_word(w):
        s = _symbols(w)
        for _, left, right, _ in merges:
            pat = f"(?<!\\S){_quote(left)} {_quote(right)}(?!\\S)"
            repl = (left + right).replace("\\", "\\\\").replace("$", "\\$")
            s = F.regexp_replace(s, F.lit(pat), F.lit(repl))
        return F.split(s, " ")

    words = F.filter(
        F.split(TX.normalize_text(F.col(text_col)), " "),
        lambda w: w != F.lit(""),
    )
    toks = F.flatten(F.transform(words, encode_word))
    return docs.select(
        F.col(id_col),
        toks.alias("tokens"),
        F.size(toks).alias("n_tokens"),
    )
