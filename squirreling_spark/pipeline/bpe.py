"""BPE vocabulary training at corpus scale — the tokenizer-training
primitive of an LLM data pipeline (learn the merge table that the
`token_stats` BPE-ish estimator approximates).

Spark-first shape (reference has no tokenizer training; this is part of
the beyond-reference training-pipeline surface, like dedup/ANN/export):

- the corpus collapses ONCE to its distinct-word vocabulary with
  frequencies (a map-side-combined groupBy — vocab ≪ corpus, so every
  later round works on vocab-sized state, never re-reading the corpus);
- each merge round is (1) one weighted pair-count aggregation over the
  vocabulary (explode adjacent token pairs, map-side combine), (2) ONE
  driver-collected row — the argmax merge rule (count DESC, then
  lexicographic (left, right): deterministic under any partitioning),
  (3) one codegen'd `replace` applying the rule to every word.

Token sequences are carried as a WRAPPED STRING — ``"her"`` is
``"<h><e><r>"`` — so a merge is a single literal `replace(repr,
'<l><r>', '<lr>')`. Leftmost non-overlapping replacement over the
wrapped form IS greedy left-to-right BPE merging: matches can never
share characters (each consumes both full wrapped tokens), can never
start inside a longer token (the '<' boundary), and ``<a><a><a>``
correctly becomes ``<aa><a>``. The same representation runs verbatim in
the DuckDB oracle (string `replace` has identical leftmost semantics),
which unrolls every round in SQL — the k-means-oracle pattern.

Pair counts include OVERLAPPING adjacent positions ("aaa" contributes
two (a,a) pairs) — the standard pre-merge occurrence count; both
engines count the same way.

Words are the ``[a-z]+`` runs of the raw text (no case folding: Spark
and DuckDB disagree on non-ASCII case mapping — see
tests/test_props.py — so the corpus contract is ASCII-lowercase runs).

Scale: per-round driver traffic is ONE row; state is the distinct-word
vocabulary; the corpus is read exactly once. Lineage grows by one
`replace` projection per round — for large k, checkpoint the vocab
every ~32 rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from squirreling_spark.qutil import adaptive_off_if, local_df, spread

_PAIRS = (
    "transform(sequence(0, size(__t) - 2), i ->"
    " struct(__t[i] AS l, __t[i + 1] AS r))"
)


def _vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct [a-z]+ words with corpus frequencies, each as its
    initial wrapped character sequence."""
    words = df.select(
        F.explode(
            F.expr(f"regexp_extract_all({text_col}, '[a-z]+', 0)")
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.regexp_replace(F.col("word"), "(.)", "<$1>").alias("repr"),
            "freq",
        )
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    toks = F.split(
        F.expr("substring(repr, 2, length(repr) - 2)"), "><"
    ).alias("__t")
    return (
        vocab.filter(F.length("repr") > 0)
        .select("freq", toks)
        .filter(F.size("__t") >= 2)
        .select("freq", F.explode(F.expr(_PAIRS)).alias("p"))
        .groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
    )


def _collapsed_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Collapse the corpus ONCE to its persisted, state-size-partitioned
    distinct-word vocabulary (see ``_train`` for the sizing rationale)."""
    base = spread(_vocab(df, text_col), by=["repr"]).persist()
    n_words = base.count()
    parts = max(1, min(32, n_words // 50_000 + 1))
    if parts < 32:
        wide = base
        base = wide.coalesce(parts).persist()
        base.count()
        wide.unpersist()
    return base


def _train(df: DataFrame, text_col: str, merges: int):
    """Shared training loop: returns (rules, final_vocab, base_to_unpersist).

    The collapsed vocabulary is persisted: every round's lineage would
    otherwise re-scan the CORPUS (8 merges = 8 full scans); the vocab is
    vocab-sized — small at any corpus scale — so this is the right trade
    at 100 TB too. Rounds then replay only the stacked replaces.

    State-sized partitioning: the count() that materializes the persist
    (needed anyway) also sizes it — a small vocabulary re-persists
    coalesced so the 8 per-round stages schedule O(1) tasks instead of
    32 each (at bench scale the vocab is tens of rows; a 100 TB corpus
    with ~1e8 distinct words keeps the full width)."""
    base = _collapsed_vocab(df, text_col)
    vocab = base
    rules = []
    # one-partition vocab -> the merge rounds run without AQE (each tiny
    # exchange otherwise materializes as its own job; see adaptive_off_if)
    small = base.rdd.getNumPartitions() == 1
    with adaptive_off_if(df.sparkSession, small):
        for rank in range(1, merges + 1):
            best = (
                _pair_counts(vocab)
                .orderBy(F.desc("pair_count"), "lhs", "rhs")
                .limit(1)
                .collect()
            )
            if not best:
                break
            l, r = best[0]["lhs"], best[0]["rhs"]
            rules.append((rank, l, r, l + r, best[0]["pair_count"]))
            vocab = vocab.select(
                F.replace(
                    F.col("repr"),
                    F.lit(f"<{l}><{r}>"),
                    F.lit(f"<{l}{r}>"),
                ).alias("repr"),
                "freq",
            )
    return rules, vocab, base


def bpe_train(
    df: DataFrame, text_col: str, merges: int = 8
) -> DataFrame:
    """Learn the top-``merges`` BPE merge rules from a document corpus.

    Returns one row per learned rule: ``merge_rank`` (1-based merge
    order), ``lhs``, ``rhs`` (the merged pair), ``merged`` (the new
    token), ``pair_count`` (the rule's pre-merge weighted occurrence
    count). (``lhs``/``rhs`` because LEFT/RIGHT are reserved words on
    the oracle side.)
    """
    spark = df.sparkSession
    rules, _vocab_final, base = _train(df, text_col, merges)
    try:
        return local_df(
            spark, rules,
            "merge_rank int, lhs string, rhs string, merged string,"
            " pair_count bigint",
        )
    finally:
        base.unpersist()


def bpe_subword_freqs(
    df: DataFrame, text_col: str, merges: int = 8, top: int = 20
) -> DataFrame:
    """The ENCODE half: corpus subword frequencies under the trained
    vocabulary. The final vocab's wrapped reprs ARE the segmentation of
    every distinct word (training and encoding apply the identical merge
    sequence), so corpus token frequencies are one explode of the
    vocab-sized state weighted by word frequency — the corpus is never
    re-tokenized. Returns the ``top`` (token, n_occurrences, token_len)
    rows, count DESC then token ASC (deterministic)."""
    _rules, vocab, base = _train(df, text_col, merges)
    try:
        toks = F.split(
            F.expr("substring(repr, 2, length(repr) - 2)"), "><"
        ).alias("__t")
        return (
            vocab.select("freq", toks)
            .select("freq", F.explode("__t").alias("token"))
            .groupBy("token")
            .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
            .select(
                "token",
                "n_occurrences",
                F.length("token").cast("bigint").alias("token_len"),
            )
            .orderBy(F.desc("n_occurrences"), "token")
            .limit(top)
        )
    finally:
        # the learned rules are already embedded as literals, so the
        # returned (lazy) plan replays the replace chain in ONE pass
        # when the caller executes it — no iteration, no stale cache.
        base.unpersist()


def bpe_oracle_sql(merges: int = 8, table: str = "documents",
                   text_col: str = "text") -> str:
    """DuckDB SQL replaying the exact training loop, every round unrolled
    (the k-means-oracle pattern): per-round pair counts, argmax with the
    (count DESC, left, right) tie-break, wrapped-string replace."""
    parts = [
        f"""v0 AS (
      SELECT regexp_replace(word, '(.)', '<\\1>', 'g') AS repr,
             CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all({text_col}, '[a-z]+')) AS word
            FROM {table})
      GROUP BY 1
    )"""
    ]
    rows = []
    for k in range(1, merges + 1):
        prev = f"v{k - 1}"
        parts.append(f"""p{k} AS (
      SELECT t[i] AS l, t[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS c
      FROM (
        SELECT string_split(substr(repr, 2, length(repr) - 2), '><') AS t,
               freq,
               unnest(generate_series(
                 1, len(string_split(substr(repr, 2, length(repr) - 2),
                                     '><')) - 1)) AS i
        FROM {prev} WHERE length(repr) > 0
      )
      GROUP BY 1, 2
    )""")
        parts.append(f"""b{k} AS (
      SELECT l, r, c FROM p{k} ORDER BY c DESC, l, r LIMIT 1
    )""")
        parts.append(f"""v{k} AS (
      SELECT replace(repr, '<' || b.l || '><' || b.r || '>',
                     '<' || b.l || b.r || '>') AS repr, freq
      FROM {prev} CROSS JOIN b{k} AS b
    )""")
        rows.append(
            f"SELECT {k} AS merge_rank, l AS lhs, r AS rhs,"
            f" l || r AS merged, c AS pair_count FROM b{k}"
        )
    body = "\n    UNION ALL ".join(rows)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs,"
        f" merged, pair_count FROM ({body}) ORDER BY merge_rank"
    )


def bpe_subword_oracle_sql(
    merges: int = 8, top: int = 20, table: str = "documents",
    text_col: str = "text",
) -> str:
    """Oracle for ``bpe_subword_freqs``: replay the unrolled training
    CTEs, then explode the FINAL vocab's wrapped reprs weighted by word
    frequency — identical to the Spark plan's encode step."""
    train = bpe_oracle_sql(merges, table, text_col)
    with_block = train[: train.rindex("\n    SELECT CAST(merge_rank")]
    return (
        with_block
        + f"""
    SELECT token, n_occurrences,
           CAST(length(token) AS BIGINT) AS token_len
    FROM (
      SELECT t AS token, CAST(sum(freq) AS BIGINT) AS n_occurrences
      FROM (
        SELECT unnest(string_split(substr(repr, 2, length(repr) - 2),
                                   '><')) AS t, freq
        FROM v{merges} WHERE length(repr) > 0
      )
      GROUP BY 1
    )
    ORDER BY n_occurrences DESC, token LIMIT {top}"""
    )


def bpe_encode_docs(
    df: DataFrame, text_col: str, id_col: str, merges: int = 8
) -> DataFrame:
    """Tokenize the CORPUS under the trained vocabulary — the per-document
    encode pass (context-length budgeting, packing input): for each
    document, its word count, its BPE token count, and an order-preserving
    md5 fingerprint of the full token stream.

    Scale shape: training runs once (vocab-sized state, see _train); the
    learned rules come back as literals and the word->segmentation map is
    DISTINCT-WORD-sized, so it broadcasts; the corpus is scanned once,
    posexplode -> broadcast-join -> one map-side-combined groupBy on the
    document id. The token stream is reassembled in word order via
    array_sort(collect_list(struct(pos, toks))) — deterministic under any
    partitioning (pos is unique per document)."""
    rules, _vocab_final, base = _train(df, text_col, merges)
    base.unpersist()

    word_repr = F.regexp_replace(F.col("word"), "(.)", "<$1>")
    for _rank, l, r, _merged, _cnt in rules:
        word_repr = F.replace(
            word_repr, F.lit(f"<{l}><{r}>"), F.lit(f"<{l}{r}>")
        )
    toks = F.split(
        F.expr("substring(__repr, 2, length(__repr) - 2)"), "><"
    )
    wmap = (
        df.select(
            F.explode(
                F.expr(f"regexp_extract_all({text_col}, '[a-z]+', 0)")
            ).alias("word")
        )
        .distinct()
        .select("word", word_repr.alias("__repr"))
        .select("word", toks.alias("__toks"))
    )
    words = spread(df, by=[id_col]).select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"regexp_extract_all({text_col}, '[a-z]+', 0)")
        ).alias("pos", "word"),
    )
    return (
        words.join(F.broadcast(wmap), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.size("__toks")).cast("bigint").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.flatten(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("pos", "__toks"))
                            ),
                            lambda s: s["__toks"],
                        )
                    ),
                    " ",
                )
            ).alias("fp_tokens"),
        )
    )


def bpe_encode_oracle_sql(
    merges: int = 8, table: str = "documents", text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Oracle for ``bpe_encode_docs``: replay the unrolled training CTEs,
    build the word->repr map by applying each round's rule in order, then
    explode the corpus with positions and aggregate per document (token
    stream reassembled with ORDER BY pos — same string as the Spark
    array_sort reassembly)."""
    train = bpe_oracle_sql(merges, table, text_col)
    with_block = train[: train.rindex("\n    SELECT CAST(merge_rank")]
    parts = [with_block]
    parts.append(f""",
    wm0 AS (
      SELECT word, regexp_replace(word, '(.)', '<\\1>', 'g') AS r
      FROM (SELECT DISTINCT unnest(regexp_extract_all({text_col}, '[a-z]+'))
              AS word FROM {table})
    )""")
    for k in range(1, merges + 1):
        parts.append(f""",
    wm{k} AS (
      SELECT word, replace(wm{k - 1}.r, '<' || b.l || '><' || b.r || '>',
                           '<' || b.l || b.r || '>') AS r
      FROM wm{k - 1} CROSS JOIN b{k} AS b
    )""")
    parts.append(f""",
    dw AS (
      SELECT {id_col}, i AS pos, ws[i] AS word
      FROM (SELECT {id_col}, regexp_extract_all({text_col}, '[a-z]+') AS ws
            FROM {table}),
           unnest(generate_series(1, len(ws))) AS u(i)
    )
    SELECT {id_col},
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(string_split(substr(r, 2, length(r) - 2), '><')))
             AS BIGINT) AS n_tokens,
           md5(string_agg(
             array_to_string(string_split(substr(r, 2, length(r) - 2), '><'),
                             ' '), ' ' ORDER BY pos)) AS fp_tokens
    FROM dw JOIN wm{merges} USING (word)
    GROUP BY {id_col}""")
    return "".join(parts)


# ---------------------------------------------------------------------------
# WordPiece training (Schuster & Nakajima 2012; the BERT tokenizer) — the
# likelihood-scored sibling of BPE: each round merges the pair maximizing
# count(pair) / (count(left) · count(right)) instead of the raw count.
# ---------------------------------------------------------------------------

WP_SCALE = 1_000_000_000  # score quantized to 1e-9 resolution


def wordpiece_train(
    df: DataFrame, text_col: str, merges: int = 8
) -> DataFrame:
    """Learn the top-``merges`` WordPiece merge rules: per round, merge
    the adjacent pair with the highest likelihood gain
    ``count(pair) / (count(left) · count(right))`` — rare-but-collocated
    units win over merely-frequent ones (BPE's argmax).

    EXACT cross-engine ordering: the rational score is quantized to the
    integer ``score_key = (count·WP_SCALE) div (count_l·count_r)``
    (≤ WP_SCALE always, since each token count ≥ the pair count), with
    products taken in decimal(38,0) — overflow-proof at any corpus
    scale — and ties broken (lhs, rhs) lexicographic. Both engines
    compute the identical key, so the argmax (and therefore the whole
    iterative training trajectory) is bit-reproducible; quantization IS
    the operator contract, not a tolerance.

    Same distributed shape as ``bpe_train``: the corpus collapses once
    to the persisted vocab; each round is one pair-count aggregation +
    one token-count aggregation (both map-side combined, joined
    broadcast on vocab-sized state) + a ONE-row driver argmax + one
    codegen'd replace. The ``##`` continuation-marker convention is
    presentation-level (affects rendering, not which merges are
    learned) and omitted.

    Returns (merge_rank, lhs, rhs, merged, pair_count, score_key)."""
    spark = df.sparkSession
    base = _collapsed_vocab(df, text_col)
    vocab = base
    rules = []
    small = base.rdd.getNumPartitions() == 1
    try:
        with adaptive_off_if(spark, small):
            for rank in range(1, merges + 1):
                # r12: pair counts and BOTH token-count lookups come out
                # of ONE aggregation — pair rows (lhs, rhs) union token
                # rows tagged (tok, NULL) and (NULL, tok) — with lc/rc
                # recovered by per-key windows instead of two broadcast
                # joins (each broadcast exchange was its own Spark job;
                # 3 jobs/round -> 1). Counts, quantized score and
                # tie-break are bit-identical to the join form.
                toks = F.split(
                    F.expr("substring(repr, 2, length(repr) - 2)"), "><"
                ).alias("__t")
                tokrows = vocab.filter(F.length("repr") > 0).select(
                    "freq", toks
                )
                pairs = (
                    tokrows.filter(F.size("__t") >= 2)
                    .select("freq", F.explode(F.expr(_PAIRS)).alias("p"))
                    .select(
                        F.col("p.l").alias("lhs"),
                        F.col("p.r").alias("rhs"),
                        "freq",
                    )
                )
                lhs_toks = tokrows.select(
                    F.explode("__t").alias("lhs"),
                    F.lit(None).cast("string").alias("rhs"),
                    "freq",
                )
                rhs_toks = tokrows.select(
                    F.lit(None).cast("string").alias("lhs"),
                    F.explode("__t").alias("rhs"),
                    "freq",
                )
                stats = (
                    pairs.unionByName(lhs_toks)
                    .unionByName(rhs_toks)
                    .groupBy("lhs", "rhs")
                    .agg(F.sum("freq").cast("bigint").alias("cnt"))
                )
                best = (
                    stats.select(
                        "lhs",
                        "rhs",
                        "cnt",
                        F.expr(
                            "max(CASE WHEN rhs IS NULL THEN cnt END)"
                            " OVER (PARTITION BY lhs)"
                        ).alias("lc"),
                        F.expr(
                            "max(CASE WHEN lhs IS NULL THEN cnt END)"
                            " OVER (PARTITION BY rhs)"
                        ).alias("rc"),
                    )
                    .filter(
                        F.col("lhs").isNotNull() & F.col("rhs").isNotNull()
                    )
                    .select(
                        "lhs",
                        "rhs",
                        F.col("cnt").alias("pair_count"),
                        F.expr(
                            f"CAST((CAST(cnt AS DECIMAL(38,0))"
                            f" * {WP_SCALE}) div"
                            f" (CAST(lc AS DECIMAL(38,0))"
                            f" * CAST(rc AS DECIMAL(38,0))) AS BIGINT)"
                        ).alias("score_key"),
                    )
                    .orderBy(F.desc("score_key"), "lhs", "rhs")
                    .limit(1)
                    .collect()
                )
                if not best:
                    break
                b = best[0]
                l, r = b["lhs"], b["rhs"]
                rules.append(
                    (rank, l, r, l + r, b["pair_count"], b["score_key"])
                )
                vocab = vocab.select(
                    F.replace(
                        F.col("repr"),
                        F.lit(f"<{l}><{r}>"),
                        F.lit(f"<{l}{r}>"),
                    ).alias("repr"),
                    "freq",
                )
        return local_df(
            spark, rules,
            "merge_rank int, lhs string, rhs string, merged string,"
            " pair_count bigint, score_key bigint",
        )
    finally:
        base.unpersist()


def wordpiece_oracle_sql(
    merges: int = 8, table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB SQL replaying the exact WordPiece loop, every round
    unrolled: pair counts, token counts, the quantized-likelihood argmax
    (HUGEINT products mirror Spark's decimal(38,0)), wrapped replace.

    The per-round vocab CTEs are MATERIALIZED: each v{{k}} is referenced
    three times (pair counts, token counts, next vocab), so DuckDB's
    default CTE inlining would expand v{{merges}} into 3^merges scans of
    the corpus — materialization keeps it linear."""
    parts = [
        f"""v0 AS MATERIALIZED (
      SELECT regexp_replace(word, '(.)', '<\\1>', 'g') AS repr,
             CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all({text_col}, '[a-z]+')) AS word
            FROM {table})
      GROUP BY 1
    )"""
    ]
    rows = []
    for k in range(1, merges + 1):
        prev = f"v{k - 1}"
        parts.append(f"""p{k} AS (
      SELECT t[i] AS l, t[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS c
      FROM (
        SELECT string_split(substr(repr, 2, length(repr) - 2), '><') AS t,
               freq,
               unnest(generate_series(
                 1, len(string_split(substr(repr, 2, length(repr) - 2),
                                     '><')) - 1)) AS i
        FROM {prev} WHERE length(repr) > 0
      )
      GROUP BY 1, 2
    )""")
        parts.append(f"""t{k} AS (
      SELECT tok, CAST(sum(freq) AS BIGINT) AS c
      FROM (
        SELECT unnest(string_split(substr(repr, 2, length(repr) - 2),
                                   '><')) AS tok, freq
        FROM {prev} WHERE length(repr) > 0
      )
      GROUP BY 1
    )""")
        parts.append(f"""b{k} AS (
      SELECT p.l, p.r, p.c,
             CAST((CAST(p.c AS HUGEINT) * {WP_SCALE})
                  // (CAST(tl.c AS HUGEINT) * CAST(tr.c AS HUGEINT))
               AS BIGINT) AS key
      FROM p{k} p
      JOIN t{k} tl ON tl.tok = p.l
      JOIN t{k} tr ON tr.tok = p.r
      ORDER BY key DESC, p.l, p.r LIMIT 1
    )""")
        parts.append(f"""v{k} AS MATERIALIZED (
      SELECT replace(repr, '<' || b.l || '><' || b.r || '>',
                     '<' || b.l || b.r || '>') AS repr, freq
      FROM {prev} CROSS JOIN b{k} AS b
    )""")
        rows.append(
            f"SELECT {k} AS merge_rank, l AS lhs, r AS rhs,"
            f" l || r AS merged, c AS pair_count, key AS score_key"
            f" FROM b{k}"
        )
    body = "\n    UNION ALL ".join(rows)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs,"
        f" merged, pair_count, score_key FROM ({body}) ORDER BY merge_rank"
    )
