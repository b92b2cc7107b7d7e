"""Distributed BPE tokenizer: train merge rules on a corpus with
iterative distributed pair counting, then tokenize with the learned
merge list — the real token accounting the LLM-data pipeline needs
(``text.py``'s regex split is honest about being an approximation;
this module replaces it with learned subword units).

Scale design (the 100-TB story):

- The trainer never touches the raw corpus after ONE distributed
  word-count: every round operates on the DISTINCT-WORD frequency
  table (vocabulary-bounded — millions of rows for web text, not
  billions), the round's shuffle is over distinct adjacent SYMBOL
  PAIRS (alphabet²-bounded, tiny), and the only driver transfer is
  the single argmax row per round.
- Merge application is a NARROW transformation (per-row
  ``aggregate`` lambda, JVM-side, whole-stage codegen) — no shuffle,
  no Python. Rounds cache the small symbol table and unpersist the
  grandparent once the child is materialized.
- Encoding a corpus = encode the distinct-word table once with an
  Arrow-batched ``mapInPandas`` kernel (O(vocab), not O(corpus)),
  then BROADCAST-join words to documents — the classic
  tokenize-via-vocab-join shape.

Semantics (pinned by the DuckDB oracle and the property tests):

- Pre-tokenize: ``lower(text)`` split on ``[^a-z0-9]+``; each word
  gets the ``</w>`` end-of-word marker as its final symbol.
- Pair counting counts EVERY adjacent position of the current
  segmentation (overlaps included: ``aaa`` has (a,a) twice) —
  Sennrich's ``get_stats``.
- The winning pair is (count DESC, left ASC, right ASC) — a total
  order, so training is deterministic under any partitioning.
- A merge applies greedily left-to-right, non-overlapping
  (``aaaa`` + (a,a) → ``aa aa``); encoding applies each learned
  merge IN RANK ORDER exactly once, which reproduces the trainer's
  incremental state for every in-corpus word. (The common
  "repeatedly merge the lowest-rank pair present" encoder is NOT
  bit-identical in the pathological case where a later merge
  re-creates an earlier pair's left/right symbol, so we pin the
  rank-order contract everywhere.)

The left-to-right greedy pass is implemented in both engines as a
fold with a separator-string accumulator: if the accumulator's last
symbol equals ``left`` and the next symbol equals ``right``, append
WITHOUT the separator (concatenation IS the merge). The separator is
``chr(31)`` (US), which cannot occur in ``[a-z0-9]``/``</w>``
symbols. ``tests/test_bpe.py`` proves fold-greedy ≡ scan-greedy by
hypothesis.

The reference repo has no text plane at all (its 1.2k-LoC Java tree
is catalog-pointer migration only — ``CatalogMigrator.java``); this
operator family is mandated by the analytics-engine brief.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import register_query, register_stage
from ..sources import load_table

EOW = "</w>"
SEP = "\x1f"  # chr(31): joins symbols inside the fold accumulator
BPE_WORD_SPLIT = "[^a-z0-9]+"  # same alphabet text.py's bpe_ish used
N_MERGES = 16  # rounds for the registered queries (oracle unrolls 16 blocks)

_CHARS_EXPR = (
    "array_append(transform(sequence(1, length(word)), "
    f"i -> substring(word, i, 1)), '{EOW}')"
)
_PAIRS_EXPR = (
    "CASE WHEN size(s) >= 2 THEN transform(sequence(1, size(s)-1), "
    "i -> struct(s[i-1] AS l, s[i] AS r)) ELSE "
    "array() END"
)


@dataclass(frozen=True)
class BpeMerge:
    rank: int  # 1-based
    left: str
    right: str
    pair_count: int


class BpeTrainingError(RuntimeError):
    pass


# ------------------------------------------------------------ training


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed word count → the vocabulary-bounded training table
    ``(word, freq)``. The ONLY corpus-sized scan in the trainer."""
    return (
        docs.select(
            F.explode(F.split(F.lower(text_col), BPE_WORD_SPLIT)).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def _apply_merge_expr(left: str, right: str) -> str:
    """One greedy merge pass as a JVM-side fold over the symbol array
    (see module docstring for why concat-without-separator IS the
    merge). Narrow — no shuffle, no Python."""
    le, re = left.replace("'", "''"), right.replace("'", "''")
    return (
        "split(aggregate(slice(s, 2, size(s)-1), s[0], (acc, x) -> "
        f"CASE WHEN (acc = '{le}' OR endswith(acc, chr(31) || '{le}')) "
        f"AND x = '{re}' THEN concat(acc, x) "
        "ELSE concat(acc, chr(31), x) END), chr(31))"
    )


def train_bpe(
    words: DataFrame,
    num_merges: int,
    min_pair_freq: int = 1,
    strict: bool = False,
) -> list[BpeMerge]:
    """Learn ``num_merges`` merge rules by iterative distributed pair
    counting over the ``(word, freq)`` table. Each round is one Spark
    job (pair explode → groupBy(pair) sum → takeOrdered(1)) plus one
    narrow merge-apply; the driver only ever receives the argmax row.

    ``strict=True`` raises if the corpus exhausts mergeable pairs
    before ``num_merges`` rounds — the oracle-checked queries use it
    so a silent early stop can never masquerade as a value diff.

    Lineage is truncated with ``localCheckpoint`` every round: the
    fold expression references ``s`` three times, so letting the
    optimizer's CollapseProject inline round k into round k+1 grows
    the expression tree 3^k — measured 8 s of ANALYSIS per round by
    round 16. Checkpointing keeps every round's plan O(1); the
    materialized blocks are round-sized (the vocabulary table) and
    reclaimed by the context cleaner.
    """
    cur = words.select("freq", F.expr(_CHARS_EXPR).alias("s")).localCheckpoint(
        eager=False
    )
    merges: list[BpeMerge] = []
    for k in range(1, num_merges + 1):
        best = (
            cur.select("freq", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best or int(best[0].cnt) < min_pair_freq:
            if strict:
                raise BpeTrainingError(
                    f"corpus exhausted at merge {k}/{num_merges}"
                )
            break
        left, right, cnt = best[0].l, best[0].r, int(best[0].cnt)
        merges.append(BpeMerge(k, left, right, cnt))
        cur = cur.select(
            "freq", F.expr(_apply_merge_expr(left, right)).alias("s")
        ).localCheckpoint(eager=False)
    return merges


# ------------------------------------------------------------ encoding


def apply_merges_to_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Rank-order encode: one greedy left-to-right pass per learned
    merge, in rank order — bit-identical to the trainer's incremental
    segmentation for in-corpus words (module docstring)."""
    syms = list(word) + [EOW]
    for left, right in merges:
        if len(syms) < 2:
            break
        out, i, n = [], 0, len(syms)
        while i < n:
            if i < n - 1 and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def fold_merge_pass(syms: list[str], left: str, right: str) -> list[str]:
    """The fold-accumulator greedy pass — the exact semantics both
    engines execute (Spark ``aggregate``, DuckDB ``list_reduce``).
    Exists so the property suite can prove fold ≡ scan."""
    acc = syms[0]
    for x in syms[1:]:
        if (acc == left or acc.endswith(SEP + left)) and x == right:
            acc += x
        else:
            acc += SEP + x
    return acc.split(SEP)


def encode_words(words: DataFrame, merges: list[BpeMerge]) -> DataFrame:
    """Tokenize the distinct-word table with the learned merges via an
    Arrow-batched kernel → ``(word, tokens, n_tokens)``. O(vocab)
    Python work; corpora then broadcast-join on ``word``."""
    pairs = [(m.left, m.right) for m in merges]

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            toks = [apply_merges_to_word(w, pairs) for w in pdf["word"]]
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                }
            )

    return words.select("word").mapInPandas(
        kernel, schema="word string, tokens array<string>, n_tokens int"
    )


# ------------------------------------------------------------ the oracle
# DuckDB replays training EXACTLY: the merge loop unrolls into one CTE
# block per round (pair counts → deterministic argmax → fold-greedy
# merge apply via list_reduce). Pure SQL, zero Python state — a fully
# independent second implementation of the trainer.

_ORACLE_CORPUS = f"""
  SELECT u.w AS word FROM documents,
    LATERAL UNNEST(STRING_SPLIT_REGEX(LOWER(text), '{BPE_WORD_SPLIT}')) AS u(w)
  WHERE u.w <> ''
"""


def bpe_oracle_with(n_merges: int) -> str:
    """The shared WITH-chain: ``w0`` .. ``w{n}`` segmentation states,
    ``b1`` .. ``b{n}`` chosen merges."""
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT word, list_append(string_split(word, ''), '{EOW}') AS s,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM ({_ORACLE_CORPUS}) GROUP BY word)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT s[u.i] AS l, s[u.i+1] AS r, SUM(freq) AS cnt
  FROM w{k-1}, LATERAL UNNEST(generate_series(1, len(s)-1)) AS u(i)
  GROUP BY 1, 2),
b{k} AS MATERIALIZED (SELECT l, r, CAST(cnt AS BIGINT) AS cnt
         FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1),
w{k} AS MATERIALIZED (
  SELECT word, string_split(
           list_reduce(s, (acc, x) -> CASE
             WHEN (acc = b.l OR suffix(acc, chr(31) || b.l)) AND x = b.r
             THEN acc || x ELSE acc || chr(31) || x END),
           chr(31)) AS s, freq
  FROM w{k-1}, b{k} AS b)"""
        )
    return "WITH " + ",\n".join(parts)


# a registered stage: training is deterministic per corpus, so a
# session trains once and all three registered queries share the result
@register_stage("bpe_merges")
def corpus_merges(spark: SparkSession, sf_dir: str) -> list[BpeMerge]:
    docs = load_table(spark, sf_dir, "documents")
    return train_bpe(word_frequencies(docs), N_MERGES, strict=True)


# ------------------------------------------------------------ queries


@register_query(
    "text_bpe_train_merges",
    oracle=bpe_oracle_with(N_MERGES)
    + "\nSELECT * FROM ("
    + "\nUNION ALL\n".join(
        f"SELECT {k} AS rank, l AS left, r AS right, cnt AS pair_count FROM b{k}"
        for k in range(1, N_MERGES + 1)
    )
    + ") ORDER BY rank",
    description=(
        "REAL distributed BPE training: iterative pair-count reduce over "
        "the distinct-word table, deterministic argmax per round, "
        "JVM-side fold merge apply; DuckDB replays every round in "
        "unrolled pure SQL (list_reduce fold) bit-for-bit"
    ),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = corpus_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(m.rank, m.left, m.right, m.pair_count) for m in merges],
        "rank int, left string, right string, pair_count bigint",
    )


@register_query(
    "text_bpe_token_counts",
    oracle=bpe_oracle_with(N_MERGES)
    + f""",
wn AS (SELECT word, len(s) AS n_tokens FROM w{N_MERGES}),
tok AS ({_ORACLE_CORPUS.replace("u.w AS word", "doc_id, u.w AS word")})
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wn.n_tokens) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(LEN(tok.word)) AS DOUBLE) / SUM(wn.n_tokens), 6)
         AS chars_per_token
FROM tok JOIN wn USING (word)
GROUP BY doc_id
""",
    description=(
        "corpus tokenized with the LEARNED merges: the mapInPandas "
        "rank-order encoder runs once over the distinct-word table "
        "(O(vocab)), then a broadcast join prices every document — the "
        "real token accounting behind the token-budget operators"
    ),
)
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = corpus_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), BPE_WORD_SPLIT)).alias("word")
    ).filter(F.col("word") != "")
    vocab = encode_words(words.select("word").distinct(), merges).select(
        "word", "n_tokens"
    )
    return (
        words.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_tokens").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum(F.length("word")).cast("double") / F.sum("n_tokens"), 6
            ).alias("chars_per_token"),
        )
    )


@register_query(
    "text_bpe_vocab_census",
    oracle=bpe_oracle_with(N_MERGES)
    + f"""
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS n_seg_slots,
       CAST(SUM(freq) AS BIGINT) AS n_occurrences
FROM (SELECT freq, UNNEST(s) AS token FROM w{N_MERGES})
GROUP BY token
""",
    description=(
        "the learned vocabulary in use: every token's slot count across "
        "distinct-word segmentations and its total corpus occurrences — "
        "encoder output must reproduce the trainer's final state exactly"
    ),
)
def text_bpe_vocab_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = corpus_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    freqs = word_frequencies(docs)
    encoded = encode_words(freqs.select("word"), merges)
    return (
        encoded.join(freqs, "word")
        .select("freq", F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").cast("bigint").alias("n_seg_slots"),
            F.sum("freq").cast("bigint").alias("n_occurrences"),
        )
    )


def _pack_bpe_oracle() -> str:
    from .sampling import _DUCK_U, TOKEN_BUDGET

    return (
        bpe_oracle_with(N_MERGES)
        + f""",
wn AS (SELECT word, len(s) AS n_tokens FROM w{N_MERGES}),
tok AS ({_ORACLE_CORPUS.replace("u.w AS word", "doc_id, u.w AS word")}),
counts AS (
  SELECT doc_id, d.lang, CAST(SUM(wn.n_tokens) AS BIGINT) AS n_tokens
  FROM tok JOIN wn USING (word) JOIN documents d USING (doc_id)
  GROUP BY doc_id, d.lang
)
SELECT lang, batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS batch_tokens
FROM (
  SELECT lang, n_tokens,
         CAST(FLOOR((running - n_tokens) / {TOKEN_BUDGET}.0) AS BIGINT) AS batch_id
  FROM (
    SELECT lang, n_tokens,
           SUM(n_tokens) OVER (
             PARTITION BY lang ORDER BY {_DUCK_U}, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
    FROM counts
  ) r
) b
GROUP BY lang, batch_id
"""
    )


@register_query(
    "pack_documents_bpe_budget",
    oracle=_pack_bpe_oracle(),
    description=(
        "sequence packing on REAL learned-tokenizer counts: the BPE "
        "token accounting (trained merges, oracle-replayed) drives the "
        "per-language hash-ordered cumulative-sum batcher — the "
        "token-budget operator family re-based on the real tokenizer"
    ),
)
def pack_documents_bpe_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pack_documents_to_token_budget``'s batcher fed by the LEARNED
    tokenizer instead of the whitespace split: per-doc BPE token counts
    come from the O(vocab) encode + broadcast join, then the same
    per-language-shard windowed prefix sum assigns batches. Window
    sorts stay local to the language shard at 100 TB."""
    from pyspark.sql import Window

    from .sampling import _SPARK_U, TOKEN_BUDGET

    merges = corpus_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), BPE_WORD_SPLIT)).alias("word")
    ).filter(F.col("word") != "")
    vocab = encode_words(words.select("word").distinct(), merges).select(
        "word", "n_tokens"
    )
    counts = (
        words.join(F.broadcast(vocab), "word")
        .groupBy("doc_id", "lang")
        .agg(F.sum("n_tokens").cast("bigint").alias("n_tokens"))
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.expr(_SPARK_U), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    batched = counts.withColumn(
        "running", F.sum("n_tokens").over(w)
    ).withColumn(
        "batch_id",
        F.floor(
            (F.col("running") - F.col("n_tokens")) / float(TOKEN_BUDGET)
        ).cast("bigint"),
    )
    return batched.groupBy("lang", "batch_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("batch_tokens"),
    )
