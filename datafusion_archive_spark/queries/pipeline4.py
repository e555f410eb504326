"""Pipeline wave 4 (round 5, second wave): behavioral-sequence mining,
corpus mixture design, PII redaction, passage-level dedup, and
perplexity filtering.

These extend the training-data-pipeline surface past the round-4/5
certification set with the ops a pretraining curation stack runs
between raw crawl and tokenizer:

- ``events_transitions`` — the Markov next-event transition matrix
  (per-user ordered sequences -> lag-pair counts + row-normalized
  probabilities), the standard behavioral-sequence summary;
- ``mixture_weights`` — temperature-scaled (alpha = 0.5) language
  mixture weights from per-language token mass, the sampling-weight
  computation behind multilingual data mixing (up-weights tail
  languages; ``boost`` is the effective epoch multiplier vs natural
  share);
- ``pii_redact`` — regex PII redaction (emails, phone numbers) with
  per-row match counts, run over deterministic synthetic PII built
  from the customer table (the corpus tables carry no PII, so the
  query constructs it reproducibly and the oracle rebuilds the same
  strings);
- ``dedup_passages`` — passage-granular dedup: non-overlapping
  10-word windows hashed per position, cross-document shared-passage
  ratio per doc (the sub-document complement to the whole-doc MinHash
  family in :mod:`datafusion_archive_spark.operators.dedup`);
- ``perplexity_bigram`` — an in-corpus add-one-smoothed word-bigram
  LM scoring every document by average negative log-likelihood and
  returning the most surprising docs — the classic perplexity filter,
  self-trained so it needs no external model artifact.

The reference stops at batch SQL (``/root/reference/ROADMAP.md:36-56``);
this family belongs to the training-data-pipeline extension mandate.

Scale notes are per-query; the common discipline: passage/bigram text
never shuffles (md5 / compact keys only), model tables are vocab-sized
joins, and every floating aggregate rides the order-independent
DECIMAL(27,6) path before rounding.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datafusion_archive_spark.functions import text as TX
from datafusion_archive_spark.functions.rounding import (
    decimal_sum,
    decimal_sum_sql,
    round_half_up,
    round_half_up_sql,
)
from datafusion_archive_spark.operators.util import cached
from datafusion_archive_spark.queries import llm as _llm
from datafusion_archive_spark.operators.util import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Markov transition matrix over event sequences
# ---------------------------------------------------------------------------


def q_events_transitions(spark, sf):
    """Next-event transition counts and probabilities: order each
    user's events by (ts, event_id), pair every event with its
    successor via ``lead``, count (from_type, to_type) pairs, and
    row-normalize into transition probabilities.

    Plan: ONE Exchange on user_id feeds the lead window (sequences are
    per-user local after that), the pair aggregation reduces to
    |event_types|^2 rows map-side, and the normalizing window runs over
    that tiny matrix. At 100 TB the only corpus-sized movement is the
    user_id shuffle — the same partitioning sessionization already
    needs, so a real pipeline shares it.
    """
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = (
        pairs.groupBy(
            F.col("event_type").alias("from_type"), F.col("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_row = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        round_half_up(
            F.col("n_transitions") / F.sum("n_transitions").over(w_row), 6
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled language mixture weights
# ---------------------------------------------------------------------------

# alpha = 0.5 temperature (weight ∝ token_mass^0.5) — computed as
# sqrt() explicitly so both engines evaluate the IEEE-exact operation
# rather than a libm pow().


def q_mixture_weights(spark, sf):
    """Multilingual sampling-weight design: per-language doc/token
    counts, temperature-scaled mixture weight ``sqrt(tokens)/Σsqrt``,
    and the effective up/down-sampling ``boost`` vs the language's
    natural token share.

    Plan: one corpus scan -> per-language aggregate (|langs| rows);
    the Σsqrt / Σtokens totals re-aggregate the cached tiny table and
    ride back via a broadcast cross join. The per-language sqrt sums
    go through the DECIMAL(27,6) path so the totals are
    partition-order independent.
    """
    d = _t(spark, sf, "documents")
    per = d.select(
        "lang",
        F.size(F.split(TX.normalize_text(F.col("text")), " ")).alias("ntok"),
    )
    agg = cached(
        per.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
        )
    )
    tot = agg.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        decimal_sum(F.sqrt(F.col("n_tokens").cast("double"))).alias(
            "tot_sqrt"
        ),
    )
    share = F.col("n_tokens") / F.col("tot_tokens")
    weight = F.sqrt(F.col("n_tokens").cast("double")) / F.col("tot_sqrt")
    return agg.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        round_half_up(weight, 6).alias("weight"),
        round_half_up(weight / share, 4).alias("boost"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_PII_LIMIT = 25
# deliberately simple, RE2-and-Java-compatible patterns (no lookaround)
_EMAIL_RE = r"[a-z0-9.#]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"\+1-555-[0-9]{4}"


def q_pii_redact(spark, sf):
    """Regex PII redaction with per-row detection counts. The corpus
    tables carry no PII, so the query deterministically synthesizes a
    contact line per customer (name-derived email + fixed-prefix phone)
    and then runs the actual redaction kernel: ``regexp_count`` for the
    audit counts and ``regexp_replace`` -> ``<EMAIL>`` / ``<PHONE>``
    placeholders. The oracle rebuilds the identical strings, so any
    drift in the redaction semantics breaks the hash.

    Plan: map-only over the scan (regex in whole-stage codegen, no
    Python) + a bounded TakeOrdered for the sample rows. At 100 TB the
    redaction pass is embarrassingly parallel and pipeline-fusable with
    any downstream filter.
    """
    c = _t(spark, sf, "customer").filter(F.col("c_custkey") <= _PII_LIMIT)
    handle = F.lower(F.regexp_replace(F.col("c_name"), " ", "."))
    raw = F.concat(
        F.col("c_name"),
        F.lit(" reachable at "),
        handle,
        F.lit("@example.com or "),
        F.lit("+1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return (
        c.select(
            "c_custkey",
            F.regexp_count(raw, F.lit(_EMAIL_RE))
            .cast("int")
            .alias("n_emails"),
            F.regexp_count(raw, F.lit(_PHONE_RE))
            .cast("int")
            .alias("n_phones"),
            redacted.alias("redacted"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Passage-level dedup
# ---------------------------------------------------------------------------

_PASSAGE_WORDS = 10


def q_dedup_passages(spark, sf):
    """Sub-document dedup signal: split every doc into non-overlapping
    10-word passages, hash each passage, and report per doc how many of
    its passage positions are shared with at least one OTHER document
    (boilerplate / template contamination shows up here long before
    whole-document MinHash fires).

    Plan: passages are sliced with a pure array expression (no
    explode-then-reassemble), and ONLY (md5, doc_id) pairs shuffle —
    passage text never leaves the scan stage. The shared-passage set is
    duplicate-only (tiny vs corpus) and comes back via a semi join; at
    100 TB the heavy aggregation is a count over 16-byte keys with
    map-side combine.
    """
    p = _PASSAGE_WORDS
    d = _t(spark, sf, "documents")
    w = F.split(TX.normalize_text(F.col("text")), " ")
    docs = cached(
        d.select("doc_id", w.alias("w"))
        .withColumn(
            "n_passages", F.floor(F.size("w") / p).cast("int")
        )
        .filter(F.col("n_passages") > 0)
    )
    pas = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_passages") - 1),
                lambda i: F.md5(
                    F.array_join(F.slice(F.col("w"), i * p + 1, p), " ")
                ),
            )
        ).alias("ph"),
    )
    shared = (
        pas.distinct()
        .groupBy("ph")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("ph")
    )
    per_doc = (
        pas.join(shared, "ph", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        docs.select("doc_id", "n_passages")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_passages",
            F.coalesce(F.col("n_shared"), F.lit(0))
            .cast("long")
            .alias("n_shared"),
            round_half_up(
                F.coalesce(F.col("n_shared"), F.lit(0))
                / F.col("n_passages"),
                4,
            ).alias("shared_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Perplexity filtering (self-trained bigram LM)
# ---------------------------------------------------------------------------

_PPL_TOP = 50


def q_perplexity_bigram(spark, sf):
    """Perplexity filter without an external model: train an add-one-
    smoothed word-bigram LM on the corpus itself (P(w2|w1) =
    (c(w1 w2)+1)/(c(w1)+V)), score every document by average negative
    log-likelihood, and return the 50 most surprising docs — the
    standard statistical outlier pass for pretraining data.

    Plan: two corpus scans build vocab-sized count tables; they join
    into a per-bigram score table driver-free (V rides along via a
    broadcast cross join), and the single corpus-sized movement is one
    equi-join of doc bigrams against that model table — AQE broadcasts
    it when it fits, falls back to a plain shuffle join when the model
    outgrows memory at scale. Every per-term -ln P is rounded to 6
    decimals on the DECIMAL(27,6) path before the per-doc sum, so the
    result is partition-order independent and engine-portable (the ln
    inputs are exact integers in both engines).
    """
    d = _t(spark, sf, "documents")
    w = F.split(TX.normalize_text(F.col("text")), " ")
    wl = cached(d.select("doc_id", w.alias("w")))
    uni = (
        wl.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_x"))
    )
    vsz = uni.agg(F.count(F.lit(1)).alias("vsz"))
    bgs = wl.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("w"), i + 1),
                    F.element_at(F.col("w"), i + 2),
                ),
            )
        ).alias("bg"),
    )
    bgc = bgs.groupBy("bg").agg(F.count(F.lit(1)).alias("c_xy"))
    model = (
        bgc.withColumn("w1", F.split(F.col("bg"), " ")[0])
        .crossJoin(F.broadcast(vsz))
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .select(
            "bg",
            (
                F.log(F.col("c_x") + F.col("vsz"))
                - F.log(F.col("c_xy") + F.lit(1))
            ).alias("nll"),
        )
    )
    scored = (
        bgs.join(model, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            decimal_sum(F.col("nll")).alias("sum_nll"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            round_half_up(F.col("sum_nll") / F.col("n_bigrams"), 4).alias(
                "avg_nll"
            ),
        )
        .orderBy(F.desc("avg_nll"), "doc_id")
        .limit(_PPL_TOP)
    )


# ---------------------------------------------------------------------------
# BPE merge training (iterative; rows-only by design)
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


def q_bpe_merges(spark, sf):
    """First 8 byte-pair-encoding merges learned from the corpus —
    the iterative tokenizer-training pass. Since round 11 this row
    carries an exact DuckDB oracle (the trainer unrolled into CTE
    stages — _bpe_merges_oracle_sql; merge k IS the m{k} stage row);
    tests/test_round5b.py additionally pins it differentially against
    a pure-Python reference BPE. Scale story in operators/bpe.py: one
    corpus-sized word-count shuffle, then every merge in one task."""
    from datafusion_archive_spark.operators import bpe

    d = _t(spark, sf, "documents")
    return bpe.bpe_merge_table(spark, d, n_merges=_BPE_MERGES)


def q_bpe_encode_tokens(spark, sf):
    """Apply the corpus-trained merges back to the corpus — the
    encode side of the tokenizer (operators/bpe.bpe_encode). Encoding
    itself is a map-only JVM regexp chain. tests/test_round5c.py pins
    the encoder differentially against a pure-Python greedy-left
    reference and checks the trained-segmentation consistency
    property; since round 11 the row ALSO carries an exact DuckDB
    oracle (the 8-merge training loop unrolled as CTE stages — see
    _bpe_oracle_sql), and the merge-table row gained its own oracle
    from the same stages; with approx_aggs certified via its
    deterministic error-bound flags, the registry has NO rows-only
    entries left."""
    from datafusion_archive_spark.operators import bpe

    d = _t(spark, sf, "documents")
    merges = bpe.bpe_merges(
        bpe.word_frequencies(d), n_merges=_BPE_MERGES
    )
    enc = bpe.bpe_encode(d, merges)
    return enc.select(
        "doc_id",
        "n_tokens",
        # stringified so every driver-visible column is scalar — the
        # driver's rows-only canonicalization cannot sort ARRAY columns
        F.concat_ws("|", F.slice(F.col("tokens"), 1, 8)).alias("head_tokens"),
    )


_BPE_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def _bpe_trainer_ctes(n_merges: int) -> list[str]:
    """The iterative BPE trainer UNROLLED into ``n_merges`` CTE stages
    (fixed small merge count makes the "not SQL-expressible" objection
    moot) — shared by the encode oracle and the merge-table oracle.

    The engine's rewrite is a Java regex with zero-width boundary
    lookarounds (operators/bpe.py); DuckDB's RE2 has no lookarounds,
    so the oracle reproduces the identical greedy left-to-right
    non-overlapping merge with plain ``replace`` on a DOUBLE-SPACED
    symbol string: every token boundary is two spaces and each end is
    one, so the pattern ``' l  r '`` consumes one space from each
    neighbouring boundary and the replacement ``' lr '`` restores the
    invariant — adjacent matches never compete for the same delimiter
    character, which is exactly the non-overlap semantics of the
    lookaround regex. Verified cell-identical to the Spark query at
    sf0.001 / sf0.01 / sf0.1 (round-11 sweep logs). Corpus is ASCII
    (TESTDATA.md), so Java's UTF-16 code-unit ``(.)`` char-split and
    RE2's codepoint ``(.)`` agree.

    Assumes the corpus yields at least ``n_merges`` distinct pairs
    (an exhausted-vocabulary stage would produce an empty 1-row CTE
    and empty out the cross join); holds at every shipped SF.

    Stage ``k`` exposes ``m{{k}}(l, r, n)`` — the k-th merge pair and
    its frequency at selection time — and ``vocab{{k}}``, the symbol
    table after applying it.
    """
    parts = [
        f"""vocab0 AS (
          SELECT count(*) AS freq,
                 trim(regexp_replace(word, '(.)', '\\1 ', 'g'))
                   || ' </w>' AS syms
          FROM (SELECT unnest(string_split({_BPE_NORM}, ' ')) AS word
                FROM documents)
          WHERE word <> ''
          GROUP BY 2
        )"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""pairs{k - 1} AS (
          SELECT freq,
                 unnest([l[i] || ' ' || l[i+1]
                         for i in range(1, len(l))]) AS pair
          FROM (SELECT freq, string_split(syms, ' ') AS l
                FROM vocab{k - 1})
        ),
        m{k} AS (
          SELECT string_split(pair, ' ')[1] AS l,
                 string_split(pair, ' ')[2] AS r,
                 n
          FROM (SELECT pair, sum(freq) AS n FROM pairs{k - 1}
                GROUP BY pair ORDER BY n DESC, pair LIMIT 1)
        ),
        vocab{k} AS (
          SELECT freq,
                 trim(replace(replace(
                   ' ' || replace(syms, ' ', '  ') || ' ',
                   ' ' || m.l || '  ' || m.r || ' ',
                   ' ' || m.l || m.r || ' '), '  ', ' ')) AS syms
          FROM vocab{k - 1}, m{k} m
        )"""
        )
    return parts


def _bpe_merges_oracle_sql(n_merges: int = _BPE_MERGES) -> str:
    """DuckDB twin of the merge TABLE itself: with the trainer
    unrolled (see _bpe_trainer_ctes), merge ``k`` is exactly the one
    row of ``m{k}`` — union the stages and number them. ``merge_idx``
    is 0-based to match operators/bpe.bpe_merges; LEFT/RIGHT are
    reserved words in DuckDB, hence the quoting."""
    stage = (
        'SELECT CAST({i} AS INTEGER) AS merge_idx, l AS "left",'
        ' r AS "right", CAST(n AS BIGINT) AS pair_freq FROM m{k}'
    )
    union = "\n        UNION ALL ".join(
        stage.format(i=k - 1, k=k) for k in range(1, n_merges + 1)
    )
    return f"WITH {','.join(_bpe_trainer_ctes(n_merges))}\n        {union}"


def _bpe_oracle_sql(n_merges: int = _BPE_MERGES) -> str:
    """DuckDB twin of train-then-encode BPE — the unrolled trainer
    stages (_bpe_trainer_ctes) feeding the same double-spaced greedy
    rewrite applied corpus-wide."""
    norm = _BPE_NORM
    parts = _bpe_trainer_ctes(n_merges)
    mm_cols = ", ".join(
        f"m{k}.l AS l{k}, m{k}.r AS r{k}" for k in range(1, n_merges + 1)
    )
    mm_from = ", ".join(f"m{k}" for k in range(1, n_merges + 1))
    parts.append(f"mm AS (SELECT {mm_cols} FROM {mm_from})")
    word_expr = (
        "' ' || replace(trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
        " || ' </w>', ' ', '  ') || ' '"
    )
    for k in range(1, n_merges + 1):
        word_expr = (
            f"replace({word_expr}, ' ' || l{k} || '  ' || r{k} || ' ',"
            f" ' ' || l{k} || r{k} || ' ')"
        )
    tokens_w = f"string_split(trim(replace({word_expr}, '  ', ' ')), ' ')"
    return f"""WITH {','.join(parts)},
        enc AS (
          SELECT doc_id,
                 flatten([{tokens_w} for w in words if w <> '']) AS tokens
          FROM (SELECT doc_id, string_split({norm}, ' ') AS words
                FROM documents), mm
        )
        SELECT doc_id, CAST(len(tokens) AS INTEGER) AS n_tokens,
               array_to_string(tokens[1:8], '|') AS head_tokens
        FROM enc"""


QUERIES = {
    "bpe_merges": q_bpe_merges,
    "bpe_encode_tokens": q_bpe_encode_tokens,
    "events_transitions": q_events_transitions,
    "mixture_weights": q_mixture_weights,
    "pii_redact": q_pii_redact,
    "dedup_passages": q_dedup_passages,
    "perplexity_bigram": q_perplexity_bigram,
}

ORACLES = {
    "events_transitions": f"""
        WITH pairs AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS to_type
          FROM events
        ),
        counts AS (
          SELECT from_type, to_type, count(*) AS n_transitions
          FROM pairs WHERE to_type IS NOT NULL
          GROUP BY 1, 2
        )
        SELECT from_type, to_type, n_transitions,
               {round_half_up_sql(
                   "n_transitions / sum(n_transitions)"
                   " OVER (PARTITION BY from_type)", 6)} AS p
        FROM counts
    """,
    "mixture_weights": f"""
        WITH per AS (
          SELECT lang, len({_llm._WORDS}) AS ntok FROM documents
        ),
        agg AS (
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(ntok) AS BIGINT) AS n_tokens
          FROM per GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                 {decimal_sum_sql("sqrt(CAST(n_tokens AS DOUBLE))")}
                   AS tot_sqrt
          FROM agg
        )
        SELECT lang, n_docs, n_tokens,
               {round_half_up_sql(
                   "sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt", 6)}
                 AS weight,
               {round_half_up_sql(
                   "(sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt)"
                   " / (CAST(n_tokens AS DOUBLE) / tot_tokens)", 4)}
                 AS boost
        FROM agg CROSS JOIN tot
    """,
    "pii_redact": f"""
        WITH built AS (
          SELECT c_custkey,
                 c_name || ' reachable at '
                   || lower(replace(c_name, ' ', '.'))
                   || '@example.com or '
                   || '+1-555-'
                   || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                   AS raw
          FROM customer WHERE c_custkey <= {_PII_LIMIT}
        )
        SELECT c_custkey,
               CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}'))
                    AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(raw, '{_PHONE_RE}'))
                    AS INTEGER) AS n_phones,
               regexp_replace(
                 regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
        FROM built
        ORDER BY c_custkey
    """,
    "dedup_passages": f"""
        WITH wl AS (
          SELECT doc_id, {_llm._WORDS} AS w FROM documents
        ),
        docs AS (
          SELECT doc_id, w,
                 CAST(floor(len(w) / {_PASSAGE_WORDS}) AS INTEGER)
                   AS n_passages
          FROM wl WHERE len(w) >= {_PASSAGE_WORDS}
        ),
        pas AS (
          SELECT doc_id,
                 unnest(list_transform(range(0, n_passages),
                   i -> md5(array_to_string(
                          list_slice(w, i * {_PASSAGE_WORDS} + 1,
                                     i * {_PASSAGE_WORDS}
                                       + {_PASSAGE_WORDS}), ' '))))
                   AS ph
          FROM docs
        ),
        shared AS (
          SELECT ph FROM (SELECT DISTINCT ph, doc_id FROM pas)
          GROUP BY ph HAVING count(*) >= 2
        ),
        per_doc AS (
          SELECT doc_id, count(*) AS n_shared
          FROM pas JOIN shared USING (ph) GROUP BY 1
        )
        SELECT d.doc_id, d.n_passages,
               CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
               {round_half_up_sql(
                   "coalesce(p.n_shared, 0) / d.n_passages", 4)}
                 AS shared_ratio
        FROM docs d LEFT JOIN per_doc p USING (doc_id)
    """,
    "perplexity_bigram": f"""
        WITH wl AS (
          SELECT doc_id, {_llm._WORDS} AS w FROM documents
        ),
        uni AS (
          SELECT tok, count(*) AS c_x
          FROM (SELECT unnest(w) AS tok FROM wl) GROUP BY 1
        ),
        v AS (SELECT count(*) AS vsz FROM uni),
        bgs AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(w)),
                   i -> list_extract(w, i) || ' ' ||
                        list_extract(w, i + 1))) AS bg
          FROM wl WHERE len(w) >= 2
        ),
        bgc AS (SELECT bg, count(*) AS c_xy FROM bgs GROUP BY 1),
        model AS (
          SELECT bg, ln(c_x + vsz) - ln(c_xy + 1) AS nll
          FROM bgc CROSS JOIN v
          JOIN uni ON uni.tok = string_split(bgc.bg, ' ')[1]
        ),
        scored AS (
          SELECT doc_id, count(*) AS n_bigrams,
                 {decimal_sum_sql("nll")} AS sum_nll
          FROM bgs JOIN model USING (bg) GROUP BY 1
        )
        SELECT doc_id, n_bigrams,
               {round_half_up_sql("sum_nll / n_bigrams", 4)} AS avg_nll
        FROM scored
        ORDER BY avg_nll DESC, doc_id
        LIMIT {_PPL_TOP}
    """,
    "bpe_encode_tokens": _bpe_oracle_sql(),
    "bpe_merges": _bpe_merges_oracle_sql(),
}
