"""Tokenizer-family operators over the documents table: BPE merge
rounds, a bigram language model with perplexity, Kneser-Ney smoothing,
WordPiece greedy longest-match, and a tokenizer fertility comparison.

Split out of text.py (round 8) at the natural tokenizers-vs-corpus-ops
seam; all plans are native Spark SQL (explode / zip_with / window /
chained joins against cached choice tables) — no Python in the hot
path. Oracles are exact relational replays (the BPE unrolled CTE, the
WordPiece relational walk) — see each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realestate_engine.registry import cache_once, iterate, register, t

def _bpe_pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over a (sym array<string>, freq)
    vocabulary, weighted by word frequency — one explode + hash agg."""
    pairs = F.filter(
        F.zip_with(
            F.col("sym"),
            F.slice(F.col("sym"), 2, F.greatest(F.size("sym") - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
        lambda s: s["r"].isNotNull(),
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _bpe_learn(spark: SparkSession, sf_dir: str, rounds: int) -> tuple[list, DataFrame]:
    """The Spark side of BPE training, shared by the learn query
    (text_bpe_merge_rounds) and the encode query (t30_bpe_encode), as
    _bpe_cte_chain is by their oracles. The corpus word-frequency
    vocabulary, split into symbols, goes through ``rounds`` merge
    rounds: one pair-count aggregate (_bpe_pair_counts) and a 1-row
    argmax pull to the driver (lexicographic tie-break), then the
    merge applied corpus-wide as a space-joined regexp rewrite; the
    rounds run through ``iterate``. Returns the merges as (round, left,
    right, pair_count) tuples and the final (word, sym, freq)
    vocabulary."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        # split("(?!^)") on this Spark version emits a TRAILING EMPTY
        # element (zero-width match at end-of-string), i.e. a phantom
        # '' symbol whose (last_char, '') pair counts are word
        # frequencies — large enough to WIN a merge round at sf0.1
        # (caught by the round-6 DuckDB oracle; the in-memory
        # reference test agreed but only ran at sf0.001). Filter it.
        .select(
            "word",
            F.filter(F.split("word", "(?!^)"), lambda s: s != "").alias("sym"),
            "freq",
        )
        .localCheckpoint()
    )
    merges = []

    def step(vocab: DataFrame, r: int) -> DataFrame:
        top = (
            _bpe_pair_counts(vocab)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()[0]
        )
        merges.append((r, top["l"], top["r"], int(top["cnt"])))
        pat = "(?<= )\\Q" + top["l"] + "\\E \\Q" + top["r"] + "\\E(?= )"
        return vocab.select(
            "word",
            F.split(
                F.trim(
                    F.regexp_replace(
                        F.concat(F.lit(" "), F.array_join("sym", " "), F.lit(" ")),
                        pat,
                        top["l"] + top["r"],
                    )
                ),
                " ",
            ).alias("sym"),
            "freq",
        )

    vocab = iterate(vocab, step, rounds)[-1]
    return merges, vocab


def _bpe_cte_chain(rounds: int = 3) -> str:
    r"""The unrolled BPE merge-round CTE chain (w, v0, then
    pc/m/mt/isl/mg/v{k+1} per round) shared by BOTH BPE oracles —
    the learn oracle reads the m{k} merge tables, the encode oracle
    reads the final v{rounds} symbol state. Returned as a complete
    WITH clause; callers append their own final SELECT, so the two
    oracles compose structurally (no substring surgery).

    Representation is (word, freq, pos, s) symbol rows, not lists, so
    each round is plain SQL: pair counts = a pos+1 self-join; the
    argmax = ORDER BY cnt DESC, l, r LIMIT 1 (Spark's exact
    tie-break); the merge applies regexp_replace's left-to-right
    non-overlap semantics exactly — in a run of consecutive matching
    positions only every other one merges (parity via gaps-and-islands
    on match positions), and a position consumed by its left
    neighbor's merge is dropped. Windows here are DuckDB-side oracle
    spec, not engine plans."""
    parts = [
        r"""
    w AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')) AS word
              FROM documents)
        GROUP BY word
    ),
    v0 AS MATERIALIZED (
        SELECT word, freq,
               UNNEST(RANGE(1, LENGTH(word) + 1)) AS pos,
               UNNEST(STRING_SPLIT(word, '')) AS s
        FROM w
    )"""
    ]
    for k in range(rounds):
        parts.append(f"""
    pc{k} AS MATERIALIZED (
        SELECT a.s AS l, b.s AS r, CAST(SUM(a.freq) AS BIGINT) AS cnt
        FROM v{k} a JOIN v{k} b ON a.word = b.word AND b.pos = a.pos + 1
        GROUP BY a.s, b.s
    ),
    m{k} AS MATERIALIZED (SELECT l, r, cnt FROM pc{k} ORDER BY cnt DESC, l, r LIMIT 1),
    mt{k} AS MATERIALIZED (
        SELECT a.word, a.freq, a.pos, a.s,
               COALESCE(a.s = m.l AND b.s = m.r, FALSE) AS mat
        FROM v{k} a
        LEFT JOIN v{k} b ON a.word = b.word AND b.pos = a.pos + 1
        CROSS JOIN m{k} m
    ),
    isl{k} AS MATERIALIZED (
        SELECT word, freq, pos, s, mat,
               CASE WHEN mat THEN pos - ROW_NUMBER() OVER
                    (PARTITION BY word, mat ORDER BY pos) END AS island
        FROM mt{k}
    ),
    mg{k} AS MATERIALIZED (
        SELECT word, freq, pos, s, mat, island,
               COALESCE(mat AND (pos - MIN(pos) OVER (PARTITION BY word, island))
                            % 2 = 0, FALSE) AS do_merge
        FROM isl{k}
    ),
    v{k + 1} AS MATERIALIZED (
        SELECT word, freq,
               ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
               s
        FROM (
            SELECT c.word, c.freq, c.pos,
                   CASE WHEN c.do_merge THEN (SELECT l || r FROM m{k}) ELSE c.s END AS s
            FROM mg{k} c
            LEFT JOIN mg{k} p ON p.word = c.word AND p.pos = c.pos - 1
            WHERE NOT COALESCE(p.do_merge, FALSE)
        )
    )""")
    return "WITH" + ",".join(parts)


def _bpe_oracle_sql(rounds: int = 3) -> str:
    """DuckDB twin of text_bpe_merge_rounds (the learn side): the
    shared CTE chain plus the merge-table readout — one row per merge
    round (VERDICT r5 #7 upgraded this from rows-only)."""
    finals = "\n    UNION ALL".join(
        f"""
    SELECT CAST({k + 1} AS INTEGER) AS round, l AS "left", r AS "right",
           CAST(cnt AS BIGINT) AS pair_count
    FROM m{k}"""
        for k in range(rounds)
    )
    return _bpe_cte_chain(rounds) + finals + "\n    ORDER BY round"


@register("text_bpe_merge_rounds", _bpe_oracle_sql(rounds=3))
def text_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18: byte-pair-encoding vocabulary induction — N=3 real BPE
    merge rounds over the corpus word-frequency table, the core step of
    tokenizer training (GPT-2/SentencePiece-class), run by _bpe_learn:
    the same loop-on-driver/work-on-cluster shape as PageRank.
    Tie-breaks are lexicographic, so the learned merges are fully
    deterministic. Oracle-checked since round 6: the 3-round loop is
    unrolled into chained DuckDB CTEs over symbol-position rows
    (_bpe_oracle_sql), reproducing regexp_replace's left-to-right
    non-overlap merge semantics exactly; tests/test_new_ops.py
    additionally re-derives the merges with an exact Python
    reference."""
    merges, _ = _bpe_learn(spark, sf_dir, 3)
    return spark.createDataFrame(
        merges, "round int, left string, right string, pair_count bigint"
    )


@register(
    "t23_bigram_perplexity",
    r"""
    WITH w AS (
        SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS words
        FROM documents
    ),
    bg AS (
        SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
        FROM w, UNNEST(RANGE(1, GREATEST(LEN(words), 1))) AS u(i)
    ),
    big_counts AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2
    ),
    uni_counts AS (
        SELECT w1, CAST(COUNT(*) AS BIGINT) AS cw FROM bg GROUP BY w1
    ),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM bg
    ),
    scored AS (
        SELECT g.doc_id,
               CAST(FLOOR(LN((b.cb + 1.0) / (u.cw + (SELECT v FROM vocab))) * 1000000)
                    AS BIGINT) AS lp_micro
        FROM bg g
        JOIN big_counts b ON g.w1 = b.w1 AND g.w2 = b.w2
        JOIN uni_counts u ON g.w1 = u.w1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(-lp_micro) AS BIGINT) AS neg_logprob_micro,
           CAST(SUM(-lp_micro) // COUNT(*) AS BIGINT) AS avg_nll_micro
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def t23_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T23: bigram-LM perplexity scoring — the actual CCNet/RefinedWeb
    quality gate shape (text_unigram_logprob's contextual upgrade): a
    Laplace-smoothed corpus bigram model P(w2|w1) = (C(w1,w2)+1) /
    (C(w1)+V) scores every transition, and each document reports its
    total and mean negative log-likelihood. High-perplexity docs (rare
    transitions) are the noise a production filter drops. Each ln term
    is FLOOR-scaled to integer micros BEFORE summing — the repo's
    order-free float-sum idiom — and the ln input is a single IEEE
    division of exact integers, bit-identical across engines.

    Scale: two count shuffles (bigram, unigram) with map-side partial
    aggregation, broadcast model join back onto the token stream
    (at 100 TB: top-K model with a default score, or pre-partition by
    w1 — what production LM filters do), one per-doc regroup. The
    bigram stream itself comes from a doc-PARTITIONED lag window."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias("pos", "w2"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    bg = toks.select(
        "doc_id", F.lag("w2").over(w_doc).alias("w1"), "w2"
    ).filter(F.col("w1").isNotNull())
    big_counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    uni_counts = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("cw"))
    vocab = bg.agg(F.countDistinct("w2").cast("long").alias("v"))
    scored = (
        bg.join(F.broadcast(big_counts), ["w1", "w2"])
        .join(F.broadcast(uni_counts), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(F.log((F.col("cb") + 1.0) / (F.col("cw") + F.col("v"))) * 1000000)
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(-F.col("lp_micro")).cast("long").alias("neg_logprob_micro"),
            F.expr("CAST(SUM(-lp_micro) DIV COUNT(*) AS BIGINT)").alias("avg_nll_micro"),
        )
        .orderBy("doc_id")
    )


@register(
    "t25_kneser_ney_bigram",
    r"""
    WITH w AS (
        SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS words
        FROM documents
    ),
    bg AS (
        SELECT words[i] AS w1, words[i + 1] AS w2
        FROM w, UNNEST(RANGE(1, GREATEST(LEN(words), 1))) AS u(i)
    ),
    big_counts AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2
    ),
    ctx AS (
        SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw,
               CAST(COUNT(*) AS BIGINT) AS n1s
        FROM big_counts GROUP BY w1
    ),
    cont AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p FROM big_counts GROUP BY w2
    ),
    types AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM big_counts)
    SELECT b.w1, b.w2, b.cb,
           CAST((4 * b.cb - 3) * 1000000 // (4 * x.cw) AS BIGINT) AS t1_micro,
           CAST(3 * x.n1s * p.n1p * 1000000 // (4 * x.cw * (SELECT tt FROM types))
                AS BIGINT) AS t2_micro,
           CAST((4 * b.cb - 3) * 1000000 // (4 * x.cw)
                + 3 * x.n1s * p.n1p * 1000000 // (4 * x.cw * (SELECT tt FROM types))
                AS BIGINT) AS pkn_micro
    FROM big_counts b JOIN ctx x ON b.w1 = x.w1 JOIN cont p ON b.w2 = p.w2
    ORDER BY b.cb DESC, b.w1, b.w2
    LIMIT 25
    """,
)
def t25_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T25: interpolated Kneser-Ney bigram probabilities — the actual
    n-gram-LM smoothing standard (Chen & Goodman '98), upgrading t23's
    Laplace gate: P_KN(w2|w1) = max(c(w1,w2)-D, 0)/c(w1·) +
    D·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|, with the canonical
    discount D = 0.75 carried as the EXACT rational 3/4 — so both
    terms are pure integer arithmetic ((4c-3)/4cw and 3·N1s·N1p /
    (4·cw·T)), FLOOR-scaled to micros separately (each one integer
    division, order-free, bit-identical across engines; every
    numerator is nonnegative so truncating DIV == floor on both).
    The continuation probability N1+(·w2)/T — "how many distinct
    contexts precede w2" — is what makes KN the right unigram
    fallback where raw frequency over-scores burst words; the top-25
    bigrams by count are reported with both terms visible.

    Scale: one bigram count shuffle with map-side combine, then all
    model statistics (context totals, distinct successors/
    predecessors, the 1-row type count) derive from the COUNTED
    bigram-type frame — each a further aggregation of an
    already-collapsed relation, never a second pass over the corpus.
    Final ranking is TakeOrdered (top-k, no global sort materialized).
    At 100 TB this is exactly the distributed KN estimation layout:
    count once, aggregate the count table three ways, join small."""

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias("pos", "w2"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    bg = toks.select(
        F.lag("w2").over(w_doc).alias("w1"), "w2"
    ).filter(F.col("w1").isNotNull())
    big_counts = cache_once(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    ctx = big_counts.groupBy("w1").agg(
        F.sum("cb").cast("long").alias("cw"), F.count(F.lit(1)).cast("long").alias("n1s")
    )
    cont = big_counts.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1p"))
    types = big_counts.agg(F.count(F.lit(1)).cast("long").alias("tt"))
    t1 = F.expr("((4 * cb - 3) * 1000000) DIV (4 * cw)")
    t2 = F.expr("(3 * n1s * n1p * 1000000) DIV (4 * cw * tt)")
    return (
        big_counts.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            "cb",
            t1.cast("long").alias("t1_micro"),
            t2.cast("long").alias("t2_micro"),
            (t1 + t2).cast("long").alias("pkn_micro"),
        )
        .orderBy(F.desc("cb"), "w1", "w2")
        .limit(25)
    )


# --- T26: WordPiece-style greedy longest-match tokenization ------------------
#
# The inference-side half of subword tokenization (text_bpe_merge_rounds
# trains merges; this SEGMENTS with a fixed vocab): at each position
# take the LONGEST vocab token that matches, advance, repeat. The
# insight that keeps it relational: the greedy choice at (word, pos)
# is a pure function of (word, pos, vocab) — so ALL choices are
# precomputed as one equi-join + per-(word,pos) argmax, and the
# tokenization itself is just a 12-step WALK over that choice table
# (bounded by the word-length cap), with no per-row Python anywhere.

_WP_TOP_PREFIXES = 40
_WP_MAX_WLEN = 12
_WP_MAX_TLEN = 4


def wp_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WordPiece word census: (word, wcount) over the whitespace
    splits of the trimmed, lower-cased text, keeping [a-z]+ words of
    at most _WP_MAX_WLEN chars. The domain is distinct words
    (Zipf-bounded), never the corpus. Oracle: words in _WP_BASE_CTES.
    Read (and cached) by t26_wordpiece_tokenize and t31_unigram_viterbi."""
    raw = t(spark, sf_dir, "documents").select("text").select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    )
    return (
        raw.where(
            F.col("word").rlike("^[a-z]+$") & (F.length("word") <= _WP_MAX_WLEN)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )


def wp_prefixes(spark: SparkSession, words: DataFrame) -> DataFrame:
    """The corpus-derived half of the shared subword vocab: the top
    _WP_TOP_PREFIXES 2.._WP_MAX_TLEN-char word prefixes by
    occurrence-weighted count, tie-broken lexically, as (tok, cnt).
    The full vocab adds the 26 single letters, so greedy and Viterbi
    segmentation always progress. Oracle: prefixes in _WP_BASE_CTES."""
    lens = spark.range(2, _WP_MAX_TLEN + 1).select(F.col("id").cast("int").alias("l"))
    return (
        words.join(F.broadcast(lens), F.length("word") >= F.col("l"))
        .select(F.expr("substring(word, 1, l)").alias("tok"), "wcount")
        .groupBy("tok")
        .agg(F.sum("wcount").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(_WP_TOP_PREFIXES)
    )


def wp_grid(spark: SparkSession, words: DataFrame) -> DataFrame:
    """Every in-word substring of the census as (word, pos, l, sub):
    1-based start pos <= _WP_MAX_WLEN, length l <= _WP_MAX_TLEN. One
    equi-join of this grid against the broadcast vocab gives every
    candidate token at every position. Oracle: grid in _WP_BASE_CTES."""
    pos_l = (
        spark.range(1, _WP_MAX_WLEN + 1)
        .select(F.col("id").cast("int").alias("pos"))
        .crossJoin(
            spark.range(1, _WP_MAX_TLEN + 1).select(F.col("id").cast("int").alias("l"))
        )
    )
    return words.join(
        F.broadcast(pos_l),
        (F.col("pos") <= F.length("word"))
        & (F.col("pos") + F.col("l") - 1 <= F.length("word")),
    ).select("word", "pos", "l", F.expr("substring(word, pos, l)").alias("sub"))


_WP_BASE_CTES = f"""
    words AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS wcount
        FROM (
            SELECT UNNEST(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')) AS word
            FROM documents
        )
        WHERE word ~ '^[a-z]+$' AND LEN(word) <= {_WP_MAX_WLEN}
        GROUP BY word
    ),
    prefixes AS MATERIALIZED (
        SELECT SUBSTR(word, 1, l.l) AS tok, CAST(SUM(wcount) AS BIGINT) AS cnt
        FROM words JOIN (SELECT UNNEST(RANGE(2, {_WP_MAX_TLEN + 1})) AS l) l
          ON LEN(word) >= l.l
        GROUP BY 1
        ORDER BY cnt DESC, tok
        LIMIT {_WP_TOP_PREFIXES}
    ),
    grid AS (
        SELECT w.word, p.p AS pos, SUBSTR(w.word, p.p, l.l) AS sub, l.l
        FROM words w
        JOIN (SELECT UNNEST(RANGE(1, {_WP_MAX_WLEN + 1})) AS p) p
          ON p.p <= LEN(w.word)
        JOIN (SELECT UNNEST(RANGE(1, {_WP_MAX_TLEN + 1})) AS l) l
          ON p.p + l.l - 1 <= LEN(w.word)
    )"""


@register(
    "t26_wordpiece_tokenize",
    f"""
    WITH RECURSIVE {_WP_BASE_CTES},
    vocab AS (
        SELECT tok FROM prefixes
        UNION ALL
        SELECT CHR(CAST(97 + i AS INTEGER)) AS tok FROM (SELECT UNNEST(RANGE(0, 26)) AS i)
    ),
    choice AS (
        SELECT word, pos, sub AS tok, pos + l AS next_pos
        FROM (
            SELECT g.word, g.pos, g.sub, g.l,
                   ROW_NUMBER() OVER (PARTITION BY g.word, g.pos
                                      ORDER BY g.l DESC) AS rn
            FROM grid g JOIN vocab v ON g.sub = v.tok
        ) WHERE rn = 1
    ),
    walk AS (
        SELECT word, 1 AS pos
        FROM words
        UNION ALL
        SELECT c.word, c.next_pos
        FROM walk k JOIN choice c ON c.word = k.word AND c.pos = k.pos
    ),
    toks AS (
        SELECT c.tok, w.wcount, c.word
        FROM walk k
        JOIN choice c ON c.word = k.word AND c.pos = k.pos
        JOIN words w ON w.word = k.word
    )
    SELECT tok, CAST(SUM(wcount) AS BIGINT) AS total_count,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
    FROM toks GROUP BY tok
    ORDER BY total_count DESC, tok
    LIMIT 25
    """,
)
def t26_wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T26: WordPiece-style greedy longest-match segmentation with a
    corpus-derived vocab (26 single letters + the top-40 most frequent
    2..4-char word prefixes, tie-broken lexically) — the inference
    half of subword tokenization next to text_bpe_merge_rounds'
    training half. Fully relational: the greedy choice at every
    (word, pos) is ONE equi-join of the (pos, len) substring grid
    against the broadcast vocab + a per-(word,pos) argmax window;
    tokenization is then a 12-step (_WP_MAX_WLEN) bounded walk over that cached
    choice table (an inner join per step — words drop out when they
    finish), and the oracle replays the identical walk as a recursive
    CTE. Greedy progress is guaranteed (singles cover [a-z]), so
    every walk terminates. Emits the top-25 tokens by occurrence-
    weighted count. Scale: distinct-word domain (Zipf-bounded),
    constant-size vocab broadcast, every join an equi hash join —
    the 100 TB tokenizer is this exact plan with a bigger vocab
    table."""

    words = cache_once(wp_words(spark, sf_dir))
    prefixes = wp_prefixes(spark, words)
    singles = spark.range(26).select(F.expr("char(97 + id)").alias("tok"))
    vocab = prefixes.select("tok").unionByName(singles)
    grid = wp_grid(spark, words)
    w_choice = Window.partitionBy("word", "pos").orderBy(F.desc("l"))
    choice = cache_once(
        grid.join(F.broadcast(vocab), grid.sub == vocab.tok)
        .withColumn("rn", F.row_number().over(w_choice))
        .where(F.col("rn") == 1)
        .select("word", "pos", F.col("sub").alias("tok"), (F.col("pos") + F.col("l")).alias("next_pos"))
    )
    # r15 walk (guide §2.4 / VERDICT r14 #9): the 12-step walk used to
    # be 12 chained joins of a shrinking state frame against the cached
    # choice table, unioned — a 78-join plan whose per-step lineage
    # grew quadratically. A word's choice rows are ≤ _WP_MAX_WLEN
    # entries, so the whole greedy walk fits in ONE projection: fold
    # each word's (pos → (tok, next_pos)) successor rows into a map,
    # then unroll the 12 lookups as a lateral-alias chain
    # (try_element_at null-propagates once the word finishes — exactly
    # the join's drop-out). Emits the identical (word, tok) multiset:
    # every pos ≤ len(word) has a choice row (singles cover [a-z]), so
    # the walk stops precisely when next_pos passes the word end.
    walk = choice.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(F.struct("pos", F.struct("tok", "next_pos")))
        ).alias("m")
    )
    steps = []
    prev = "1"
    arr = []
    for k in range(_WP_MAX_WLEN):
        steps.append(f"try_element_at(m, {prev}) AS a{k}")
        prev = f"a{k}.next_pos"
        arr.append(f"a{k}.tok")
    toks = (
        walk.selectExpr("word", *steps)
        .selectExpr(
            "word",
            f"filter(array({','.join(arr)}), x -> x is not null) AS _toks",
        )
        .select("word", F.explode("_toks").alias("tok"))
    )
    return (
        toks.join(words, "word")
        .groupBy("tok")
        .agg(
            F.sum("wcount").cast("bigint").alias("total_count"),
            F.countDistinct("word").cast("bigint").alias("n_words"),
        )
        .orderBy(F.desc("total_count"), "tok")
        .limit(25)
    )


# --- T27: tokenizer comparison report ------------------------------------------


@register(
    "t27_tokenizer_comparison",
    rf"""
    WITH per_doc AS (
        SELECT doc_id,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_ws,
               LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpeish,
               LEN(REPLACE(text, ' ', '')) AS n_chars
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS whitespace_tokens,
           CAST(SUM(n_bpeish) AS BIGINT) AS bpeish_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS char_tokens,
           CAST(SUM(n_bpeish) * 1000000 // SUM(n_ws) AS BIGINT)
             AS bpeish_per_word_micro,
           CAST(SUM(n_chars) * 1000000 // SUM(n_bpeish) AS BIGINT)
             AS chars_per_bpeish_micro,
           CAST(SUM(CASE WHEN n_bpeish > n_ws * 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_fragmenting
    FROM per_doc
    """,
)
def t27_tokenizer_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27: tokenizer fertility report — the budgeting table every
    training-data plan starts from: the same corpus counted under
    three tokenizer granularities (whitespace words, the BPE-ish
    regex segmentation, raw characters) with the two fertility ratios
    that convert between budgets (subword-per-word, chars-per-subword,
    floor-micro) and a census of fragmenting documents (subwords >
    2x words — the high-fertility tail that blows context budgets).
    Token counts are the currency of 100 TB corpus planning
    (corpus_token_budget spends them; pack_documents_greedy bins
    them); this is the exchange-rate table. One scan, one global agg,
    all integer."""
    d = t(spark, sf_dir, "documents").select("text")
    per_doc = d.select(
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_ws"),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ).alias("n_bpeish"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("n_chars"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_ws").cast("bigint").alias("whitespace_tokens"),
        F.sum("n_bpeish").cast("bigint").alias("bpeish_tokens"),
        F.sum("n_chars").cast("bigint").alias("char_tokens"),
        F.expr("CAST(sum(n_bpeish) * 1000000 DIV sum(n_ws) AS BIGINT)").alias(
            "bpeish_per_word_micro"
        ),
        F.expr("CAST(sum(n_chars) * 1000000 DIV sum(n_bpeish) AS BIGINT)").alias(
            "chars_per_bpeish_micro"
        ),
        F.sum(F.when(F.col("n_bpeish") > F.col("n_ws") * 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_fragmenting"),
    )



def _bpe_encode_oracle_sql(rounds: int = 3, k: int = 40) -> str:
    """Token census after the learned merges: the shared _bpe_cte_chain
    plus a census readout over the FINAL symbol state v{rounds}."""
    return (
        _bpe_cte_chain(rounds)
        + f"""
    SELECT s AS token,
           CAST(SUM(freq) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_word_types,
           CAST(LENGTH(s) AS BIGINT) AS token_len
    FROM v{rounds}
    GROUP BY s
    ORDER BY n_occurrences DESC, token
    LIMIT {k}"""
    )


@register("t30_bpe_encode", _bpe_encode_oracle_sql(rounds=3, k=40))
def t30_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T30: BPE ENCODING — the apply side of text_bpe_merge_rounds'
    learn side, completing the tokenizer-training story: run the same
    3 deterministic merge rounds, then emit the corpus as tokenized —
    the top-40 subword census (occurrences weighted by word frequency,
    distinct word types containing the token, token length). This is
    the vocabulary/frequency table a tokenizer ships with.

    Plan: the learn query's loop (_bpe_learn), plus ONE final
    explode + hash agg for the census. The oracle reuses the
    unrolled learn-CTE chain and reads the final symbol state, so any
    divergence in merge application (the left-to-right non-overlap
    subtlety) flips the hash."""
    _, vocab = _bpe_learn(spark, sf_dir, 3)
    return (
        vocab.select("word", "freq", F.explode("sym").alias("token"))
        .groupBy("token")
        .agg(
            F.sum("freq").cast("bigint").alias("n_occurrences"),
            F.countDistinct("word").cast("bigint").alias("n_word_types"),
        )
        .select(
            "token",
            "n_occurrences",
            "n_word_types",
            F.length("token").cast("bigint").alias("token_len"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(40)
    )


# --- T31: unigram-LM Viterbi segmentation (SentencePiece inference) ----------

_UV_MAX_P = _WP_MAX_WLEN + 1  # final DP position = word length + 1


def _uv_oracle_sql() -> str:
    """DuckDB twin of t31: the min-cost DP unrolled into 12 chained
    MATERIALIZED best-so-far CTEs (the label-propagation unroll), over
    the same vocab spec as t26 plus integer-micro unigram costs."""
    head = f"""
    WITH {_WP_BASE_CTES},
    chars AS MATERIALIZED (
        SELECT c AS tok, CAST(SUM(wcount) AS BIGINT) AS cnt
        FROM (SELECT UNNEST(STRING_SPLIT(word, '')) AS c, wcount FROM words)
        GROUP BY c
    ),
    singles AS (
        SELECT CHR(CAST(97 + i AS INTEGER)) AS tok
        FROM (SELECT UNNEST(RANGE(0, 26)) AS i)
    ),
    vocab AS MATERIALIZED (
        SELECT tok, cnt + 1 AS cnt_sm FROM prefixes
        UNION ALL
        SELECT s.tok, COALESCE(c.cnt, 0) + 1 AS cnt_sm
        FROM singles s LEFT JOIN chars c ON c.tok = s.tok
    ),
    tot AS (SELECT CAST(SUM(cnt_sm) AS BIGINT) AS tot FROM vocab),
    costs AS MATERIALIZED (
        SELECT v.tok,
               CAST(FLOOR(1000000 * LN(CAST(t.tot AS DOUBLE) / v.cnt_sm))
                    AS BIGINT) * 128 + 1 AS enc
        FROM vocab v CROSS JOIN tot t
    ),
    edges AS MATERIALIZED (
        SELECT g.word, g.pos, g.pos + g.l AS next_pos, c.enc
        FROM grid g JOIN costs c ON g.sub = c.tok
    ),
    bs1 AS MATERIALIZED (SELECT word, 1 AS pos, CAST(0 AS BIGINT) AS acc FROM words)"""
    steps = []
    for p in range(2, _UV_MAX_P + 1):
        steps.append(f"""
    b{p} AS MATERIALIZED (
        SELECT e.word, {p} AS pos, MIN(b.acc + e.enc) AS acc
        FROM edges e JOIN bs{p - 1} b ON b.word = e.word AND b.pos = e.pos
        WHERE e.next_pos = {p}
        GROUP BY e.word
    ),
    bs{p} AS MATERIALIZED (
        SELECT * FROM bs{p - 1} UNION ALL SELECT * FROM b{p}
    )""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT CAST(b.acc % 128 AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_word_types,
           CAST(SUM(w.wcount) AS BIGINT) AS n_occurrences,
           CAST(SUM(w.wcount * (b.acc // 128)) AS BIGINT) AS weighted_cost_micro
    FROM bs{_UV_MAX_P} b
    JOIN words w ON w.word = b.word AND b.pos = LEN(w.word) + 1
    GROUP BY 1
    ORDER BY n_tokens
    """
    )


@register("t31_unigram_viterbi", _uv_oracle_sql())
def t31_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T31: OPTIMAL (Viterbi) subword segmentation under a unigram LM
    — the SentencePiece inference step, and the min-cost counterpart
    of t26's greedy longest-match over the IDENTICAL vocab (26 singles
    + top-40 2..4-char prefixes): where WordPiece commits to the
    longest token at each position, the unigram model picks the
    segmentation minimizing total -log p(token). Costs are exact
    integer micros — Laplace-smoothed counts, one IEEE division +
    LN per vocab TYPE (the t28 contract: identical integer-derived
    expression trees are bit-safe cross-engine), floored before any
    arithmetic. The tie subtlety is engineered away, not assumed: the
    DP state packs (cost, n_tokens) as acc*128 + 1 per edge, so MIN
    is a total order — equal-cost paths resolve to fewest tokens,
    deterministically, on both engines.

    Plan: the (pos, len) substring grid equi-joins the 66-row
    broadcast cost table into a cached per-word edge DAG; Viterbi is
    then 12 bounded rounds of (edges ⋈ frontier) + per-word MIN —
    each round one equi hash join + hash agg over the distinct-word
    domain (Zipf-bounded; never corpus-sized), the same
    driver-loop/cluster-work posture as PageRank. Output: the
    optimal-fertility census (words by optimal token count, with
    freq-weighted total cost). At 100 TB the vocab broadcast grows to
    32k tokens and the DAG stays |distinct words| x O(len) — this
    exact plan. Cited reference behavior: none (the reference has no
    tokenizer; north-star surface)."""

    words = cache_once(wp_words(spark, sf_dir))
    prefixes = wp_prefixes(spark, words)
    chars = (
        words.select(
            F.explode(F.filter(F.split("word", "(?!^)"), lambda s: s != "")).alias(
                "c"
            ),
            "wcount",
        )
        .groupBy("c")
        .agg(F.sum("wcount").cast("bigint").alias("cnt"))
    )
    singles = spark.range(26).select(F.expr("char(97 + id)").alias("tok"))
    vocab = prefixes.select("tok", (F.col("cnt") + 1).alias("cnt_sm")).unionByName(
        singles.join(chars, singles.tok == chars.c, "left").select(
            "tok", (F.coalesce(F.col("cnt"), F.lit(0)) + 1).alias("cnt_sm")
        )
    )
    tot = vocab.agg(F.sum("cnt_sm").cast("bigint").alias("tot"))
    costs = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        (
            F.expr(
                "CAST(FLOOR(1000000 * LN(CAST(tot AS DOUBLE) / cnt_sm)) AS BIGINT)"
            )
            * 128
            + 1
        ).alias("enc"),
    )
    grid = wp_grid(spark, words)
    edges = cache_once(
        grid.join(F.broadcast(costs), grid.sub == costs.tok).select(
            "word", "pos", (F.col("pos") + F.col("l")).alias("next_pos"), "enc"
        )
    )
    # r15 DP (the t26 walk lesson applied to Viterbi — guide §2.4): a
    # word's DAG has ≤ _WP_MAX_WLEN positions and ≤ pos·len edges, so
    # the whole forward DP fits ONE projection instead of 11 rounds of
    # (filtered edge join + per-word MIN + union + eager checkpoint —
    # one driver job per round). Fold each word's incoming edges into a
    # map next_pos → [(from_pos, enc)], then unroll b(p) = min over
    # incoming edges of b(from) + enc as a lateral-alias chain over an
    # accumulating 1-based best-array. Null semantics reproduce the
    # join exactly: an unreachable from-position contributes NULL and
    # array_min skips NULLs; a position with no incoming edges gets
    # NULL wholesale (try_element_at) — precisely the rows the old
    # per-round join dropped. MIN over the same packed (cost, count)
    # encodings → identical accumulators.
    by_next = edges.groupBy("word", "next_pos").agg(
        F.collect_list(F.struct("pos", "enc")).alias("es")
    )
    dag = by_next.groupBy("word").agg(
        F.map_from_entries(F.collect_list(F.struct("next_pos", "es"))).alias("m")
    )
    steps = ["array(cast(0 as bigint)) AS b1"]
    for p in range(2, _UV_MAX_P + 1):
        bp = (
            f"array_min(transform(try_element_at(m, {p}), "
            f"e -> try_element_at(b{p - 1}, e.pos) + e.enc))"
        )
        steps.append(f"concat(b{p - 1}, array({bp})) AS b{p}")
    best = dag.selectExpr("word", *steps).select(
        "word", F.col(f"b{_UV_MAX_P}").alias("b")
    )
    finals = words.select(
        "word", "wcount", (F.length("word") + 1).cast("int").alias("final_pos")
    )
    return (
        best.join(finals, "word")
        .select("wcount", F.expr("element_at(b, final_pos)").alias("acc"))
        .select((F.col("acc") % 128).alias("n_tokens"), "wcount", (F.col("acc") / F.lit(128)).cast("bigint").alias("cost_micro"))
        .groupBy("n_tokens")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_word_types"),
            F.sum("wcount").cast("bigint").alias("n_occurrences"),
            F.sum(F.col("wcount") * F.col("cost_micro")).cast("bigint").alias(
                "weighted_cost_micro"
            ),
        )
        .select(F.col("n_tokens").cast("bigint").alias("n_tokens"), "n_word_types", "n_occurrences", "weighted_cost_micro")
        .orderBy("n_tokens")
    )


# --- T32: Heaps'-law vocabulary growth --------------------------------------


@register(
    "t32_heaps_law",
    """
    WITH arrs AS MATERIALIZED (
        SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS ws
        FROM documents
    ),
    shingles AS MATERIALIZED (
        SELECT doc_id,
               ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS sh
        FROM (
            SELECT doc_id, ws, UNNEST(RANGE(1, GREATEST(LEN(ws) - 1, 1))) AS i
            FROM arrs
        )
    ),
    per_doc AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM shingles GROUP BY doc_id
    ),
    firsts AS MATERIALIZED (
        SELECT sh, MIN(doc_id) AS first_doc FROM shingles GROUP BY sh
    ),
    mx AS (SELECT MAX(doc_id) + 1 AS n_docs FROM per_doc),
    cuts AS MATERIALIZED (
        SELECT CAST(k AS BIGINT) AS decile, (m.n_docs * k) // 10 AS cut
        FROM (SELECT UNNEST(RANGE(1, 11)) AS k) g CROSS JOIN mx m
    ),
    curve AS MATERIALIZED (
        SELECT c.decile,
               (SELECT CAST(SUM(p.n_sh) AS BIGINT) FROM per_doc p
                WHERE p.doc_id < c.cut) AS n_shingles,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts f
                WHERE f.first_doc < c.cut) AS n_types
        FROM cuts c
    ),
    lnld AS MATERIALIZED (
        SELECT decile, n_shingles, n_types,
               CAST(FLOOR(1000000 * LN(CAST(n_shingles AS DOUBLE))) AS BIGINT) AS lx,
               CAST(FLOOR(1000000 * LN(CAST(n_types AS DOUBLE))) AS BIGINT) AS ly
        FROM curve
    ),
    fit AS (
        SELECT CAST(FLOOR(
                   (CAST(COUNT(*) AS DOUBLE) * SUM(lx * ly) - CAST(SUM(lx) AS DOUBLE) * SUM(ly))
                 / (CAST(COUNT(*) AS DOUBLE) * SUM(lx * lx) - CAST(SUM(lx) AS DOUBLE) * SUM(lx))
                 * 1000000) AS BIGINT) AS heaps_beta_micro
        FROM lnld
    )
    SELECT l.decile, l.n_shingles, l.n_types,
           CAST(l.n_types * 1000000 // l.n_shingles AS BIGINT) AS ttr_micro,
           f.heaps_beta_micro
    FROM lnld l CROSS JOIN fit f
    ORDER BY l.decile
    """,
)
def t32_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T32: Heaps'-law growth of the word-3-gram SHINGLE dictionary —
    distinct shingle types as a function of corpus size at ten prefix
    checkpoints, plus the fitted exponent beta from V(n) = K·n^beta.
    Shingle types are the unit whose growth actually sizes pipeline
    state at 100 TB: the minhash/LSH shingle domain (dedup.py), the
    contamination n-gram dictionary, and every inverted-index keyspace
    grow as THIS curve, not as raw vocabulary (the synthetic corpus —
    like any closed-vocab domain — saturates its word list almost
    immediately; the combinatorial shingle space keeps growing, which
    is the regime that matters for sketch sizing).

    The insight that keeps it one pass, not ten: the dictionary at
    prefix cut c is |{shingles whose FIRST occurrence doc < c}| — one
    groupBy(shingle) MIN(doc_id) computes every checkpoint at once,
    and the curve is a 10-row broadcast non-equi join against that
    firsts table (never ten corpus rescans). Exactness: each
    checkpoint's ln is FLOOR-micro'd PER ROW (the t28 contract), the
    OLS slope then runs on exact integer sums with one fixed IEEE tree
    for the final division — no order-dependent float summation.
    Emits the curve (shingles, types, type-token ratio micro) with the
    fitted beta_micro alongside."""

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    arrs = d.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
    )
    # guard short docs: sequence(1, 0) counts DOWN ([1, 0]) — the r8 rule
    sh = F.expr(
        "if(size(ws) >= 3,"
        " transform(sequence(1, size(ws) - 2),"
        "           i -> concat_ws(' ', ws[i - 1], ws[i], ws[i + 1])),"
        " array())"
    )
    shingles = cache_once(
        arrs.select("doc_id", F.explode(sh).alias("sh"))
    )
    per_doc = shingles.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    firsts = shingles.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    mx = per_doc.agg((F.max("doc_id") + 1).alias("n_docs"))
    cuts = (
        spark.range(1, 11)
        .select(F.col("id").cast("bigint").alias("decile"))
        .crossJoin(F.broadcast(mx))
        .select("decile", F.expr("n_docs * decile div 10").alias("cut"))
    )
    shingles_k = (
        per_doc.join(F.broadcast(cuts), F.col("doc_id") < F.col("cut"))
        .groupBy("decile")
        .agg(F.sum("n_sh").cast("bigint").alias("n_shingles"))
    )
    types_k = (
        firsts.join(F.broadcast(cuts), F.col("first_doc") < F.col("cut"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    )
    lnld = shingles_k.join(types_k, "decile").select(
        "decile",
        "n_shingles",
        "n_types",
        F.expr("CAST(FLOOR(1000000 * LN(CAST(n_shingles AS DOUBLE))) AS BIGINT)").alias("lx"),
        F.expr("CAST(FLOOR(1000000 * LN(CAST(n_types AS DOUBLE))) AS BIGINT)").alias("ly"),
    )
    fit = lnld.agg(
        F.expr(
            "CAST(FLOOR("
            " (CAST(COUNT(*) AS DOUBLE) * SUM(lx * ly) - CAST(SUM(lx) AS DOUBLE) * SUM(ly))"
            " / (CAST(COUNT(*) AS DOUBLE) * SUM(lx * lx) - CAST(SUM(lx) AS DOUBLE) * SUM(lx))"
            " * 1000000) AS BIGINT)"
        ).alias("heaps_beta_micro")
    )
    return (
        lnld.crossJoin(F.broadcast(fit))
        .select(
            "decile",
            "n_shingles",
            "n_types",
            F.expr("CAST(n_types * 1000000 DIV n_shingles AS BIGINT)").alias("ttr_micro"),
            "heaps_beta_micro",
        )
        .orderBy("decile")
    )


# --- T33: Good-Turing frequency smoothing + unseen-species estimates ---------

_T33_ORACLE = """
    WITH words AS (
        SELECT UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
                                  x -> LEN(x) > 0)) AS w
        FROM documents
    ),
    freq AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM words GROUP BY w
    ),
    fof AS (
        SELECT f, CAST(COUNT(*) AS BIGINT) AS n_r FROM freq GROUP BY f
    ),
    tot AS (
        SELECT CAST(SUM(f * n_r) AS BIGINT) AS n_tokens,
               CAST(SUM(n_r) AS BIGINT) AS n_types,
               CAST(COALESCE(SUM(CASE WHEN f = 1 THEN n_r END), 0) AS BIGINT) AS n1,
               CAST(COALESCE(SUM(CASE WHEN f = 2 THEN n_r END), 0) AS BIGINT) AS n2
        FROM fof
    ),
    grid AS (SELECT CAST(UNNEST([1,2,3,4,5,6,7,8,9,10,
                                 11,12,13,14,15,16,17,18,19,20]) AS BIGINT) AS r),
    cur AS (
        SELECT g.r, CAST(COALESCE(MAX(fof.n_r), 0) AS BIGINT) AS n_r
        FROM grid g LEFT JOIN fof ON fof.f = g.r GROUP BY g.r
    ),
    nxt AS (
        SELECT g.r, CAST(COALESCE(MAX(fof.n_r), 0) AS BIGINT) AS n_r_next
        FROM grid g LEFT JOIN fof ON fof.f = g.r + 1 GROUP BY g.r
    )
    SELECT c.r, c.n_r, x.n_r_next,
           CAST(CASE WHEN c.n_r = 0 THEN 0
                ELSE (c.r + 1) * x.n_r_next * 1000000 // c.n_r
                END AS BIGINT) AS r_star_micro,
           CAST(t.n1 * 1000000 // t.n_tokens AS BIGINT) AS p0_micro,
           CAST(t.n_types * 1000000
                + t.n1 * (t.n1 - 1) * 1000000 // (2 * (t.n2 + 1))
                AS BIGINT) AS chao1_micro,
           t.n_tokens, t.n_types
    FROM cur c JOIN nxt x ON x.r = c.r, tot t
    ORDER BY c.r
"""


@register("t33_good_turing", _T33_ORACLE)
def t33_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T33: Good-Turing frequency smoothing over the documents word
    census — the classic missing-mass / unseen-species machinery that
    t22's Kneser-Ney assumes and corpus-coverage planning runs on:
    r* = (r+1) N_{r+1} / N_r (the Turing discount for each observed
    frequency r in 1..20), P0 = N1/N (the probability mass of words
    never seen — "how much of the language is this corpus still
    missing?"), and the bias-corrected Chao1 species estimate
    S + N1(N1-1)/(2(N2+1)) ("how many distinct words does the
    underlying population have?" — always defined, even at N2 = 0).
    EVERYTHING is integer arithmetic: the frequency-of-frequencies
    census N_r is exact BIGINT counts, each estimate is one integer
    multiply + one integer division (DIV vs // agree on non-negative
    operands) — no IEEE anywhere, so cross-engine equality is
    structural, not certified. Plan: one corpus-sized explode+groupBy
    (the t19 census), one types-sized groupBy to N_r (O(sqrt N) rows
    by Heaps/Zipf), then the census is FILTERED to the
    grid's reach (f <= 21 — a 21-row frame at any scale) before the
    20-row grid outer-joins it, so nothing unbounded is ever built or
    broadcast regardless of which side the planner picks; all
    downstream frames are <= 21 rows or 1 row. 100 TB: two data shuffles
    total. Chao1's N1^2 term overflows BIGINT once N1 > ~3e6 types at
    the 1e6 scale — the decimal(38) carry is the documented path."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("w")
    )
    freq = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    fof = freq.groupBy("f").agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
    tot = fof.agg(
        F.sum(F.col("f") * F.col("n_r")).cast("bigint").alias("n_tokens"),
        F.sum("n_r").cast("bigint").alias("n_types"),
        F.coalesce(
            F.sum(F.when(F.col("f") == 1, F.col("n_r"))), F.lit(0)
        ).cast("bigint").alias("n1"),
        F.coalesce(
            F.sum(F.when(F.col("f") == 2, F.col("n_r"))), F.lit(0)
        ).cast("bigint").alias("n2"),
    )
    grid = spark.createDataFrame([(r,) for r in range(1, 21)], "r bigint")
    # Pre-bound the fof census to the grid's reach (f <= 21) BEFORE the
    # grid outer-joins: a broadcast hint on the RIGHT side of a right-
    # outer join is not honorable (BroadcastHashJoin must build the
    # non-outer side), so Spark silently broadcasts the LEFT side —
    # which must therefore be the bounded 21-row slice, never the
    # O(sqrt N) census (round-10 stderr-audit catch). No hint on the
    # grid: it is unhonorable here and would only log
    # HintErrorLogger warnings.
    fof21 = fof.where(F.col("f") <= 21)
    cur = (
        fof21.join(grid, fof21.f == grid.r, "right")
        .groupBy("r")
        .agg(F.coalesce(F.max("n_r"), F.lit(0)).cast("bigint").alias("n_r"))
    )
    nxt = (
        fof21.join(grid, fof21.f == grid.r + 1, "right")
        .groupBy("r")
        .agg(
            F.coalesce(F.max("n_r"), F.lit(0)).cast("bigint").alias("n_r_next")
        )
    )
    return (
        cur.join(nxt, "r")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "r",
            "n_r",
            "n_r_next",
            "CAST(CASE WHEN n_r = 0 THEN 0"
            " ELSE (r + 1) * n_r_next * 1000000 DIV n_r END AS BIGINT)"
            " AS r_star_micro",
            "CAST(n1 * 1000000 DIV n_tokens AS BIGINT) AS p0_micro",
            "CAST(n_types * 1000000"
            " + n1 * (n1 - 1) * 1000000 DIV (2 * (n2 + 1)) AS BIGINT)"
            " AS chao1_micro",
            "n_tokens",
            "n_types",
        )
        .orderBy("r")
    )
