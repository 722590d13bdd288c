"""Distributed BPE merge-step statistics (SURVEY.md §2.11 adjacent —
tokenizer-training support; the reference has no analogue, tag "llm").

Byte-pair-encoding training is a loop of "count adjacent symbol pairs
across the corpus, merge the most frequent". The counting step is the
only part that touches corpus-scale data, and it is exactly one
distributed aggregation — this module implements it Spark-first.

The trick that makes it scale is the same one every BPE trainer uses:
collapse the corpus to its WORD FREQUENCY table first. Pair counts are
then computed over the distinct vocabulary (bounded, ~Heaps-law sized)
with each word's pairs weighted by its corpus count — so the expensive
per-position explode runs over the vocabulary, not the corpus. At
100 TB the word-collapse is a mergeable map-side-combined aggregate of
(word) tokens (text itself never shuffles — split+explode happens in
the scan stage), and everything downstream is vocabulary-sized.
Subsequent merge iterations would re-pair the re-segmented vocabulary
(same plan, new symbol boundaries); the first iteration is the
representative one and the only one whose input is raw text.

Exactness: counts are integers; the top-K cut is totally ordered by
(count DESC, pair ASC), so the driver hash-check is deterministic on
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..checkpoints import release
from ..registry import spec

#: how many top pairs the merge-step reports (a real trainer takes 1
#: per iteration; reporting the top 32 makes the result a stable,
#: hashable surface and shows the full candidate ranking).
BPE_TOP = 32


def llm_bpe_pair_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge-iteration's pair statistics: the BPE_TOP most
    frequent adjacent character pairs inside whitespace words, each
    occurrence weighted by the word's corpus frequency (a pair that
    repeats inside a word counts once per position, per occurrence —
    the textbook BPE count).

    Plan: corpus -> word counts (the only corpus-scale exchange,
    partially aggregated map-side) -> per-position pair explode over
    the DISTINCT vocabulary (sequence+transform, whole-stage codegen,
    no Python) -> vocabulary-sized hash aggregate ->
    TakeOrderedAndProject for the top-K.
    """
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    pairs = words.select(
        "wn",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1),"
                   " i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    top = pairs.groupBy("pair").agg(F.sum("wn").alias("n"))
    return top.orderBy(F.col("n").desc(), "pair").limit(BPE_TOP)


ORACLE_LLM_BPE_PAIR_COUNT = f"""
WITH words AS (
  SELECT w, COUNT(*) AS wn
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE LEN(w) >= 2
  GROUP BY w
),
pairs AS (
  SELECT
    unnest([substring(w, i, 2)
            for i in generate_series(1, LEN(w) - 1)]) AS pair,
    wn
  FROM words
)
SELECT pair, CAST(SUM(wn) AS BIGINT) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_TOP}
"""


# ---------------------------------------------------------------------------
# Full BPE training loop (round 8): K greedy merge iterations, exactly
# the textbook algorithm, checked against an unrolled relational twin —
# the llm_kmeans_train discipline applied to tokenizer training.
#
# The greedy left-to-right pair merge has a sequential dependency inside
# each word ("aaa" with merge (a,a) -> "aa a", never "a aa"), which is
# why naive string replace() is WRONG (it can match across symbol
# boundaries once symbols are multi-char, and adjacent overlapping
# occurrences resolve differently). The relational formulation that is
# exact AND parallel: a pair-match at position i overlaps a match at
# i+1 only inside runs of consecutive matches (possible only when
# a == b), and greedy selection takes every OTHER position of each run
# starting at its head. So: match positions -> runs via the
# gaps-and-islands key (i - row_number) -> keep (i - run_start) % 2 == 0
# -> emit merged symbol at selected positions, drop the consumed
# right-neighbors, re-join. Pure windows over the word-position table.
#
# Scale: after the corpus-scale word-frequency collapse (the ONLY
# exchange that sees corpus data, identical to llm_bpe_pair_count),
# every iteration runs over the DISTINCT vocabulary — per-word windows
# are word-length sized, the top-pair pick is a 1-row
# TakeOrderedAndProject broadcast back, and localCheckpoint per step
# keeps plan depth O(1) in iterations.
# ---------------------------------------------------------------------------

#: merge iterations the trainer runs (each = one pass over the vocab).
BPE_TRAIN_ITERS = 3
#: how many (most frequent) words llm_bpe_encode reports segmented.
BPE_ENCODE_TOP = 30

_WORD_RE = "^[a-z]{2,}$"  # ASCII-only: sidesteps engine Unicode-split divergence


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus -> (w, wn, seq): word frequencies with each word exploded
    to a space-joined character sequence (the BPE initial state)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike(_WORD_RE))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
        .withColumn(
            "seq", F.rtrim(F.regexp_replace("w", "(.)", "$1 "))
        )
    )


def _positions(words: DataFrame) -> DataFrame:
    """(w, wn, seq) -> one row per symbol position: (w, wn, i, sym, nxt)."""
    s = F.split("seq", " ")
    return (
        words.select("w", "wn", s.alias("s"))
        .select("w", "wn", "s", F.posexplode("s").alias("i0", "sym"))
        .select(
            "w",
            "wn",
            (F.col("i0") + 1).alias("i"),
            "sym",
            F.when(
                F.col("i0") + 2 <= F.size("s"),
                F.element_at("s", F.col("i0") + 2),
            ).alias("nxt"),
        )
    )


def _merge_step(pos: DataFrame, top1: DataFrame) -> DataFrame:
    """Apply one greedy merge of top1's (a, b) to the position table,
    returning the re-joined (w, wn, seq) vocabulary state."""
    from pyspark.sql import Window

    matches = (
        pos.join(
            F.broadcast(top1.select("a", "b")),
            (F.col("sym") == F.col("a")) & (F.col("nxt") == F.col("b")),
        )
        .select("w", "i")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("w").orderBy("i")),
        )
    )
    selected = (
        matches.withColumn(
            "run_start",
            F.min("i").over(
                Window.partitionBy("w", F.col("i") - F.col("rn"))
            ),
        )
        .filter((F.col("i") - F.col("run_start")) % 2 == 0)
        .select(F.col("w").alias("sw"), F.col("i").alias("si"))
    )
    flagged = (
        pos.join(
            selected,
            (F.col("w") == F.col("sw")) & (F.col("i") == F.col("si")),
            "left",
        )
        .select("w", "wn", "i", "sym", "nxt", F.col("si").isNotNull().alias("sel"))
        .withColumn(
            "consumed",
            F.coalesce(
                F.lag("sel").over(Window.partitionBy("w").orderBy("i")),
                F.lit(False),
            ),
        )
    )
    rows = flagged.select(
        "w", "wn", F.struct("i", "sym", "nxt", "sel", "consumed").alias("x")
    )
    return rows.groupBy("w", "wn").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list("x")),
                lambda x: (
                    F.when(x["sel"], F.concat(x["sym"], x["nxt"]))
                    .when(~x["consumed"], x["sym"])
                ),
            ),
        ).alias("seq")
    )


def _apply_merge(words: DataFrame, a: str, b: str) -> DataFrame:
    """Apply one greedy merge (a, b) to the vocabulary state as a PURE
    per-word expression: on the space-sentinelled symbol string,
    ``regexp_replace`` of `` a b(?= )`` is leftmost non-overlapping —
    exactly BPE's merge semantics (an ``a a a`` run merges positions
    (1,2) and leaves 3, ``a a a a`` merges (1,2) and (3,4)). Replaces
    the former join + three-windows-per-word plan (_merge_step, kept
    below for the plan-equivalence test): the merge is word-local, so
    a narrow map is the right physical shape — measured 0.68 s ->
    ~0.1 s per iteration at sf0.1, and at corpus scale it removes six
    vocabulary-sized exchanges per iteration (SCALE.md §24).

    Symbols are guaranteed ``[a-z]+`` (the _WORD_RE gate), so the
    literals embed in the pattern without metacharacter risk; escaping
    is applied anyway for defense in depth.
    """
    import re as _re

    pat = f" {_re.escape(a)} {_re.escape(b)}(?= )"
    return words.withColumn(
        "seq",
        F.trim(
            F.regexp_replace(
                F.concat(F.lit(" "), F.col("seq"), F.lit(" ")),
                pat,
                f" {a}{b}",
            )
        ),
    )


def _bpe_train_state(
    spark: SparkSession, sf_dir: str, words: DataFrame | None = None
) -> tuple[DataFrame, list[DataFrame]]:
    """Run BPE_TRAIN_ITERS greedy merges; returns (final vocab state,
    per-step 1-row merge tables).

    The winning pair is collected driver-side each step (ONE row — the
    same bounded-scalar read as graph_pagerank's n_nodes; real BPE
    trainers hold the whole merge table in memory) so the merge
    application compiles to a literal regexp_replace projection instead
    of a data-dependent join.

    ``words`` optionally supplies a pre-materialized (w, wn, seq)
    vocabulary state with identical values to :func:`_bpe_words`
    (llm_tokenizer_fertility derives it from its own per-language
    corpus aggregate so the corpus is tokenized ONCE — guide §2.4).

    r16 job-count cut (guide §2.4/§5): since _apply_merge became a
    pure per-row projection (r-earlier; no join, no window), the
    iteration state no longer needs a checkpoint per step — lineage is
    a LINEAR chain of BPE_TRAIN_ITERS regexp_replace projections over
    the ONE materialized vocabulary base, so each step's top1 job
    re-runs at most 2 cheap vocabulary-scale projections instead of
    paying a separate eager-checkpoint job (measured: 3 checkpoint
    jobs ~0.1 s each at sf0.1, removed; train-state call 1.07 ->
    ~0.7 s). The 1-row top1 snapshots stay lazy: they are materialized
    by .first() and owned by the returned merge table; a caller that
    discards either half releases it (both are materialized by the time
    this returns, so nothing the other half reads is freed)."""
    if words is None:
        words = _bpe_words(spark, sf_dir).localCheckpoint(eager=True)
    merges: list[DataFrame] = []
    for step in range(1, BPE_TRAIN_ITERS + 1):
        pos = _positions(words)
        top1 = (
            pos.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
            .agg(F.sum("wn").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        row = top1.first()
        if row is None:  # vocabulary degenerated to single symbols —
            break  # do NOT record an empty 0-row step table
        merges.append(top1.withColumn("step", F.lit(step)))
        words = _apply_merge(words, row["a"], row["b"])  # lazy chain
    return words, merges


def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE_TRAIN_ITERS iterations of textbook BPE training: each step
    counts adjacent symbol pairs over the word-frequency table (weighted,
    per-position) and greedily merges the (count DESC, pair ASC) winner
    throughout the vocabulary. Returns the learned merge table."""
    words, merges = _bpe_train_state(spark, sf_dir)
    release(words)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.select(
        "step", "a", "b", F.concat("a", "b").alias("merged"), "n"
    ).orderBy("step")


def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize with the freshly-trained merges: the BPE_ENCODE_TOP most
    frequent words with their final segmentation and token counts — the
    apply half of the tokenizer, sharing the training loop's state (the
    final vocab table IS the encoded form; no re-scan)."""
    words, merges = _bpe_train_state(spark, sf_dir)
    for m in merges:
        release(m)
    return (
        words.select(
            "w",
            "wn",
            F.col("seq").alias("tokens"),
            F.size(F.split("seq", " ")).alias("n_tokens"),
        )
        .orderBy(F.col("wn").desc(), "w")
        .limit(BPE_ENCODE_TOP)
    )


def _oracle_iter_ctes(k: int) -> str:
    """One merge iteration's CTE chain (input W{k-1} -> T{k}, W{k}) —
    the relational twin of _positions + _merge_step."""
    return f"""
P{k} AS (
  SELECT w, wn, g.i AS i, s[g.i] AS sym,
         CASE WHEN g.i < LEN(s) THEN s[g.i + 1] END AS nxt
  FROM (SELECT w, wn, string_split(seq, ' ') AS s FROM W{k - 1}),
       unnest(generate_series(1, LEN(s))) AS g(i)
),
T{k} AS (
  SELECT sym AS a, nxt AS b, CAST(SUM(wn) AS BIGINT) AS n
  FROM P{k} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt
  ORDER BY n DESC, a, b LIMIT 1
),
M{k} AS (
  SELECT p.w, p.i, ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.i) AS rn
  FROM P{k} p, T{k} t
  WHERE p.sym = t.a AND p.nxt = t.b
),
S{k} AS (
  SELECT w, i FROM (
    SELECT w, i, MIN(i) OVER (PARTITION BY w, i - rn) AS run_start
    FROM M{k}
  ) WHERE (i - run_start) % 2 = 0
),
E{k} AS (
  SELECT p.w, p.wn, p.i, p.sym, p.nxt,
         (s.i IS NOT NULL) AS sel,
         COALESCE(LAG(s.i IS NOT NULL) OVER (
            PARTITION BY p.w ORDER BY p.i), FALSE) AS consumed
  FROM P{k} p LEFT JOIN S{k} s ON s.w = p.w AND s.i = p.i
),
W{k} AS (
  SELECT w, wn,
         STRING_AGG(CASE WHEN sel THEN sym || nxt
                         WHEN NOT consumed THEN sym END,
                    ' ' ORDER BY i) AS seq
  FROM E{k} GROUP BY w, wn
)"""


_ORACLE_BPE_BASE = """
WITH words AS (
  SELECT w, COUNT(*) AS wn
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]{2,}$')
  GROUP BY w
),
W0 AS (
  SELECT w, wn, rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq
  FROM words
)"""


ORACLE_LLM_BPE_TRAIN = (
    _ORACLE_BPE_BASE
    + ","
    + ",".join(_oracle_iter_ctes(k) for k in range(1, BPE_TRAIN_ITERS + 1))
    + f"""
SELECT * FROM (
  {" UNION ALL ".join(
      f"SELECT {k} AS step, a, b, a || b AS merged, n FROM T{k}"
      for k in range(1, BPE_TRAIN_ITERS + 1)
  )}
) ORDER BY step
"""
)


ORACLE_LLM_BPE_ENCODE = (
    _ORACLE_BPE_BASE
    + ","
    + ",".join(_oracle_iter_ctes(k) for k in range(1, BPE_TRAIN_ITERS + 1))
    + f"""
SELECT w, wn, seq AS tokens,
       CAST(LEN(string_split(seq, ' ')) AS INTEGER) AS n_tokens
FROM W{BPE_TRAIN_ITERS}
ORDER BY wn DESC, w LIMIT {BPE_ENCODE_TOP}
"""
)


def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE tokens emitted per word,
    the standard tokenizer-vs-corpus fitness metric (a vocab trained on
    English 'costs' more tokens per word on other languages — fertility
    is how that is measured and reported, e.g. in multilingual
    tokenizer papers).

    Reuses the training loop's final vocabulary state verbatim
    (:func:`_bpe_train_state` — the segmentation of a word is
    language-independent, so the per-word token count is computed ONCE
    on the distinct vocab), then a per-(lang, word) frequency aggregate
    joins the vocab-sized segmentation table and rolls up to per-lang
    totals. Fertility is integer ppm (``n_tokens * 1e6 div n_words``).

    At 100 TB: the (lang, word) aggregate is the ONLY corpus-scale
    pass — r16 (guide §2.4): the training state's own word-frequency
    table is derived from it by a vocabulary-scale rollup
    (``SUM(n) OVER lang`` = the corpus count _bpe_words computed with
    a second full tokenize+explode+exchange before), so the corpus is
    scanned, split and shuffled exactly once instead of twice. The
    segmentation side is the distinct vocab — joinable by broadcast
    until the vocab outgrows memory, shuffle-on-word after (Catalyst's
    call here). The train-state reuse means the expensive part (3
    merge passes) is shared machinery, not re-derived. Measured sf0.1
    isolated: 1.93 -> ~1.2 s (one corpus pass + 3 fewer checkpoint
    jobs, see _bpe_train_state).
    """
    docs = table(spark, sf_dir, "documents")
    lw = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike(_WORD_RE))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # identical values to _bpe_words: same tokenize, same _WORD_RE
    # gate; per-word corpus count = sum of its per-language counts
    words = (
        lw.groupBy("w")
        .agg(F.sum("n").alias("wn"))
        .withColumn("seq", F.rtrim(F.regexp_replace("w", "(.)", "$1 ")))
        .localCheckpoint(eager=True)
    )
    state, merges = _bpe_train_state(spark, sf_dir, words=words)
    for m in merges:
        release(m)
    seg = state.select(
        "w", F.size(F.split("seq", " ")).alias("n_tok")
    )
    return (
        lw.join(seg, "w")
        .groupBy("lang")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.col("n_tok")).alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("n_tokens * 1000000 div n_words").alias(
                "fertility_ppm"
            ),
        )
    )


ORACLE_LLM_TOKENIZER_FERTILITY = (
    _ORACLE_BPE_BASE
    + ","
    + ",".join(_oracle_iter_ctes(k) for k in range(1, BPE_TRAIN_ITERS + 1))
    + f"""
, lang_words AS (
  SELECT lang, w, COUNT(*) AS n
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]{{2,}}$')
  GROUP BY 1, 2
),
seg AS (
  SELECT w, LEN(string_split(seq, ' ')) AS n_tok
  FROM W{BPE_TRAIN_ITERS}
)
SELECT
  l.lang,
  CAST(SUM(l.n) AS BIGINT) AS n_words,
  CAST(SUM(l.n * s.n_tok) AS BIGINT) AS n_tokens,
  CAST(SUM(l.n * s.n_tok) * 1000000 // SUM(l.n) AS BIGINT)
    AS fertility_ppm
FROM lang_words l JOIN seg s USING (w)
GROUP BY l.lang
"""
)


QUERIES = {
    "llm_bpe_pair_count": spec(
        llm_bpe_pair_count, ORACLE_LLM_BPE_PAIR_COUNT, "llm",
        doc="BPE merge-step pair counts over the word-frequency table",
    ),
    "llm_bpe_train": spec(
        llm_bpe_train, ORACLE_LLM_BPE_TRAIN, "llm",
        doc="3-iteration textbook BPE training vs an unrolled relational twin",
    ),
    "llm_bpe_encode": spec(
        llm_bpe_encode, ORACLE_LLM_BPE_ENCODE, "llm",
        doc="tokenize the top words with the freshly-trained BPE merges",
    ),
    "llm_tokenizer_fertility": spec(
        llm_tokenizer_fertility, ORACLE_LLM_TOKENIZER_FERTILITY, "llm",
        doc="BPE tokens-per-word by language (integer-ppm fertility "
            "from the shared train state)",
    ),
}
