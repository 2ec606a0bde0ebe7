"""Text analysis for training-data pipelines: tokenization, quality
scoring, language ID, fingerprinting.

Beyond the reference's surface (SURVEY §7.5): these are the
document-corpus operators a 100 TB text pipeline runs before training.
All of them are pure column expressions (JVM-side, no Python in the
hot path); ratio-valued outputs are emitted as integer ppm
(``floor(x*1e6)``) so oracle comparisons never hash floats.

Spark and DuckDB variants are kept side by side — same arithmetic,
same fold orders — so every op here is hash-match verifiable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Stopword/marker lists are deliberately small and inlined: at scale
# these ship as broadcast literals, not data-dependent state.
STOPWORDS = ("a", "the", "and", "of", "in", "to", "is", "on")

LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "ein", "ist"),
    "en": ("a", "the", "and", "is", "of"),
    "es": ("el", "la", "los", "es", "y", "un"),
    "fr": ("le", "la", "les", "et", "un", "est"),
}


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


def tokens_expr(text: Column | str = "text") -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.split(text, " ")


def text_stats(docs: DataFrame, hoist: bool = False) -> DataFrame:
    """(doc_id, n_chars_calc, n_tokens, n_distinct, avg_token_len_ppm,
    stopword_ppm, quality_ppm) — the standard quality-filter features
    (length, redundancy, stopword density) + a combined score.

    ``hoist``: evaluate the split in its own projection vs inline per
    feature. Values are bit-identical either way; the r11 A/B
    (min-of-3 at sf0.1, tools/ab_hoist.py at commit 9f5e074) picked
    INLINE as the default — whole-stage codegen's subexpression elimination already
    evaluates the repeated split once within one ProjectExec, so the
    hoist's extra projection only adds a row-materialization boundary
    (the r10 text_stats 2× wall drift)."""
    if hoist:
        docs = docs.select("doc_id", "text", tokens_expr("text").alias("ws"))
        ws = F.col("ws")
    else:
        ws = tokens_expr("text")
    n_tokens = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    tok_chars = F.aggregate(F.transform(ws, F.length), F.lit(0), lambda a, x: a + x)
    sw = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    ntd = n_tokens.cast("double")
    stop_frac = sw.cast("double") / ntd
    quality = (
        F.lit(0.4) * F.least(ntd, F.lit(100.0)) / F.lit(100.0)
        + F.lit(0.3) * (n_distinct.cast("double") / ntd)
        + F.lit(0.3) * (F.lit(1.0) - stop_frac)
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct"),
        F.floor(tok_chars.cast("double") / ntd * 1e6).cast("long").alias("avg_token_len_ppm"),
        F.floor(stop_frac * 1e6).cast("long").alias("stopword_ppm"),
        F.floor(quality * 1e6).cast("long").alias("quality_ppm"),
    )


TEXT_STATS_SQL = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       length(text)::BIGINT AS n_chars_calc,
       len(ws)::BIGINT AS n_tokens,
       len(list_distinct(ws))::BIGINT AS n_distinct,
       CAST(floor(list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws)::DOUBLE * 1e6) AS BIGINT) AS avg_token_len_ppm,
       CAST(floor(len(list_filter(ws, w -> list_contains([{_sql_list(STOPWORDS)}], w)))::DOUBLE / len(ws)::DOUBLE * 1e6) AS BIGINT) AS stopword_ppm,
       CAST(floor((0.4 * least(len(ws)::DOUBLE, 100.0) / 100.0
                 + 0.3 * (len(list_distinct(ws))::DOUBLE / len(ws)::DOUBLE)
                 + 0.3 * (1.0 - len(list_filter(ws, w -> list_contains([{_sql_list(STOPWORDS)}], w)))::DOUBLE / len(ws)::DOUBLE)) * 1e6) AS BIGINT) AS quality_ppm
FROM t
"""


def lang_id(docs: DataFrame, hoist: bool = False) -> DataFrame:
    """(doc_id, lang_pred, score) — marker-token language heuristic.
    Winner = highest marker count, ties broken by language code asc,
    zero hits → 'und'. (n-gram language ID reduced to its word-level
    core; the mechanism — not the marker lists — is the operator.)
    ``hoist``: see :func:`text_stats` — the r11 A/B picked inline."""
    if hoist:
        docs = docs.select("doc_id", tokens_expr("text").alias("ws"))
        ws = F.col("ws")
    else:
        ws = tokens_expr("text")

    def count_in(markers):
        # single-param lambda: a 2-arg lambda would be read as
        # (element, index) by F.filter
        return F.size(F.filter(ws, lambda w: w.isin(*markers)))

    scores = {lang: count_in(markers) for lang, markers in sorted(LANG_MARKERS.items())}
    best = None
    best_score = None
    for lang in sorted(scores):  # asc order ⇒ first strict max wins ties
        s = scores[lang]
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    return docs.select(
        "doc_id",
        F.when(best_score > 0, best).otherwise(F.lit("und")).alias("lang_pred"),
        best_score.cast("long").alias("score"),
    )


def lang_id_sql() -> str:
    score_cols = ",\n       ".join(
        f"len(list_filter(ws, w -> list_contains([{_sql_list(m)}], w))) AS s_{lang}"
        for lang, m in sorted(LANG_MARKERS.items())
    )
    langs = sorted(LANG_MARKERS)
    # replicate the fold: first strict max in asc lang order wins
    best = f"'{langs[0]}'"
    best_s = f"s_{langs[0]}"
    for lang in langs[1:]:
        best = f"CASE WHEN s_{lang} > {best_s} THEN '{lang}' ELSE {best} END"
        best_s = f"CASE WHEN s_{lang} > {best_s} THEN s_{lang} ELSE {best_s} END"
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
s AS (SELECT doc_id, {score_cols} FROM t)
SELECT doc_id,
       CASE WHEN {best_s} > 0 THEN {best} ELSE 'und' END AS lang_pred,
       {best_s}::BIGINT AS score
FROM s
"""


BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, n_distinct_bpe): whitespace
    tokens vs a BPE-ish regex pre-tokenization (letter runs / digit
    runs / single punctuation — the GPT-2 pattern reduced to its
    portable core; Java and RE2 agree on this subset). Pure column
    expressions — JVM-side, codegen'd."""
    ws = F.split("text", " ")
    bpe = F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)")
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).cast("long").alias("n_distinct_bpe"),
    )


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_PATTERN}'))::BIGINT AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(text, '{BPE_PATTERN}')))::BIGINT AS n_distinct_bpe
FROM documents
"""


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — content fingerprint (md5 hex). Exact-dedup key
    and a portable stand-in for rolling-hash fingerprints."""
    return docs.select("doc_id", F.md5(F.col("text")).alias("fp"))


FINGERPRINT_SQL = "SELECT doc_id, md5(text) AS fp FROM documents"


# ---------------------------------------------------------------------------
# Corpus vocabulary — the tokenizer-training / frequency-filter input
# ---------------------------------------------------------------------------

VOCAB_MIN_DF = 2
VOCAB_TOP_K = 1000


def vocab_counts(
    docs: DataFrame, min_df: int = VOCAB_MIN_DF, top_k: int = VOCAB_TOP_K
) -> DataFrame:
    """(token, tf, df): the corpus-level vocabulary — total term
    frequency and document frequency for the ``top_k`` most frequent
    whitespace tokens with document frequency ≥ ``min_df``, ordered
    deterministically by (tf desc, token asc).

    The classic wordcount shape: explode → groupBy(token) with
    map-side partial aggregation, so the shuffle carries one partial
    row per (task, distinct token), not one per token occurrence; df
    via count_distinct(doc_id) rides the same shuffle. The top-k cut
    is a global sort of |vocab| aggregate rows — bounded by vocabulary
    size, not corpus size."""
    tok = docs.select("doc_id", F.explode(tokens_expr("text")).alias("token"))
    agg = tok.groupBy("token").agg(
        F.count("*").cast("long").alias("tf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    return (
        agg.filter(F.col("df") >= min_df)
        .orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(top_k)
    )


def vocab_counts_sql(min_df: int = VOCAB_MIN_DF, top_k: int = VOCAB_TOP_K) -> str:
    return f"""
SELECT token, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
HAVING count(DISTINCT doc_id) >= {min_df}
ORDER BY tf DESC, token ASC
LIMIT {top_k}
"""


NGRAM_MIN_DF = 2
NGRAM_TOP_K = 1000


def ngram_counts(
    docs: DataFrame, min_df: int = NGRAM_MIN_DF, top_k: int = NGRAM_TOP_K
) -> DataFrame:
    """(gram, tf, df): corpus-level 2-gram frequency table — the
    contamination / boilerplate / tokenizer-merge analysis companion
    to :func:`vocab_counts` (same wordcount shape, same deterministic
    (tf desc, gram asc) cut; shuffle carries map-side-combined
    partials per distinct gram, never per occurrence)."""
    # hoist the split into ONE projected column — Catalyst does not CSE
    # inside lambda bodies, so inlining `split(text, ' ')` re-tokenizes
    # every document 4× per row (the same trap the winnowing fold
    # documents in dedup.py; measured there at 2×)
    ws = docs.select("doc_id", F.split("text", " ").alias("ws"))
    grams = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) < 2 THEN array() ELSE "
                "transform(sequence(1, size(ws) - 1), "
                "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))) END"
            )
        ).alias("gram"),
    )
    agg = grams.groupBy("gram").agg(
        F.count("*").cast("long").alias("tf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    return (
        agg.filter(F.col("df") >= min_df)
        .orderBy(F.col("tf").desc(), F.col("gram").asc())
        .limit(top_k)
    )


def ngram_counts_sql(min_df: int = NGRAM_MIN_DF, top_k: int = NGRAM_TOP_K) -> str:
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                               i -> ws[i] || ' ' || ws[i + 1])) AS gram
  FROM t
)
SELECT gram, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df
FROM g
GROUP BY gram
HAVING count(DISTINCT doc_id) >= {min_df}
ORDER BY tf DESC, gram ASC
LIMIT {top_k}
"""


# ---------------------------------------------------------------------------
# Repetition filters (Gopher-style): the pretraining quality signal that
# catches boilerplate/SEO spam — fraction of duplicate n-grams and the
# character mass of the single most frequent 2-gram. Scale shape: one
# explode + map-side-combined (doc_id, gram) count + a per-doc window —
# rows ∝ corpus tokens, state bounded by distinct grams per doc.
# ---------------------------------------------------------------------------


def text_repetition(docs: DataFrame) -> DataFrame:
    """(doc_id, n_2grams, distinct_2grams, dup_2gram_ppm,
    top_2gram_count, top_2gram_char_ppm): 2-gram repetition features.
    ``dup_2gram_ppm`` = fraction of 2-gram occurrences that are
    repeats; ``top_2gram_char_ppm`` = chars covered by the most common
    2-gram (count × gram length / doc chars), ties broken by gram
    string descending — both deterministic integers.

    Physical plan: a pure PROJECTION — per-doc features need no data
    movement, so everything (gram build, distinct count, and the mode
    gram via a single left-to-right run scan over the sorted gram
    array) happens JVM-side in one scan with ZERO shuffles. The
    previous explode → groupBy → window → two-joins plan paid five
    shuffles of gram rows for the same per-row arithmetic (measured
    r6 at sf0.1: 6.3 s → sub-second). Tie-break falls out of the scan
    order: runs arrive in ascending gram order, so on equal counts the
    later (larger) gram replaces — exactly 'ties by gram descending'."""
    ws = tokens_expr("text")
    base = docs.select(
        "doc_id", F.length("text").alias("n_chars"), ws.alias("ws")
    )
    grams = base.select(
        "doc_id",
        "n_chars",
        # CASE guard, not greatest(…, 0): Spark's sequence(1, 0) steps
        # DOWNWARD ([1, 0]) instead of being empty, so a 1-token doc
        # would index past the array
        F.expr(
            "CASE WHEN size(ws) < 2 THEN array()"
            " ELSE transform(sequence(1, size(ws) - 1),"
            " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))) END"
        ).alias("gs"),
    )
    # (c, g) of the most frequent gram: longest equal-run in the sorted
    # array, one aggregate pass. acc = (prev run's gram, its length so
    # far, best count, best gram); the finish lambda commits the final
    # run. `a.prev >= a.bg` is the ascending-order tie rule above.
    top_expr = """
aggregate(
  sort_array(gs),
  named_struct('prev', cast(null as string), 'run', cast(0 as bigint),
               'bc', cast(0 as bigint), 'bg', cast(null as string)),
  (a, x) -> CASE
    WHEN a.prev IS NULL THEN
      named_struct('prev', x, 'run', cast(1 as bigint), 'bc', a.bc, 'bg', a.bg)
    WHEN x = a.prev THEN
      named_struct('prev', a.prev, 'run', a.run + cast(1 as bigint), 'bc', a.bc, 'bg', a.bg)
    WHEN a.run >= a.bc THEN
      named_struct('prev', x, 'run', cast(1 as bigint), 'bc', a.run, 'bg', a.prev)
    ELSE
      named_struct('prev', x, 'run', cast(1 as bigint), 'bc', a.bc, 'bg', a.bg)
    END,
  a -> CASE WHEN a.prev IS NOT NULL AND a.run >= a.bc
            THEN named_struct('c', a.run, 'g', a.prev)
            ELSE named_struct('c', a.bc, 'g', a.bg) END
)
"""
    feats = grams.select(
        "doc_id",
        "n_chars",
        F.size("gs").cast("long").alias("n2"),
        F.size(F.array_distinct("gs")).cast("long").alias("d2"),
        F.expr(top_expr).alias("tg"),
    )
    n2 = F.col("n2").cast("double")
    tc = F.col("tg.c")
    return feats.select(
        "doc_id",
        F.col("n2").alias("n_2grams"),
        F.col("d2").alias("distinct_2grams"),
        F.when(F.col("n2") == 0, F.lit(0))
        .otherwise(F.floor((n2 - F.col("d2").cast("double")) / n2 * 1e6))
        .cast("long")
        .alias("dup_2gram_ppm"),
        tc.cast("long").alias("top_2gram_count"),
        F.when(tc == 0, F.lit(0))
        .otherwise(
            F.floor(
                tc.cast("double")
                * F.length("tg.g").cast("double")
                / F.col("n_chars").cast("double")
                * 1e6
            )
        )
        .cast("long")
        .alias("top_2gram_char_ppm"),
    )


TEXT_REPETITION_SQL = """
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
b AS (
  SELECT doc_id, length(text) AS n_chars,
         list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                        i -> ws[i] || ' ' || ws[i + 1]) AS gs
  FROM t
),
ex AS (SELECT doc_id, unnest(gs) AS g FROM b),
cnt AS (SELECT doc_id, g, count(*) AS c FROM ex GROUP BY doc_id, g),
agg AS (SELECT doc_id, sum(c) AS n2, count(*) AS d2 FROM cnt GROUP BY doc_id),
top AS (
  SELECT doc_id, c AS tc, length(g) AS tl FROM (
    SELECT doc_id, g, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
    FROM cnt
  ) WHERE rn = 1
)
SELECT b.doc_id,
       coalesce(n2, 0)::BIGINT AS n_2grams,
       coalesce(d2, 0)::BIGINT AS distinct_2grams,
       (CASE WHEN coalesce(n2, 0) = 0 THEN 0
             ELSE floor((n2 - d2)::DOUBLE / n2::DOUBLE * 1e6) END)::BIGINT AS dup_2gram_ppm,
       coalesce(tc, 0)::BIGINT AS top_2gram_count,
       (CASE WHEN coalesce(tc, 0) = 0 THEN 0
             ELSE floor(tc::DOUBLE * tl::DOUBLE / n_chars::DOUBLE * 1e6) END)::BIGINT AS top_2gram_char_ppm
FROM b LEFT JOIN agg USING (doc_id) LEFT JOIN top USING (doc_id)
"""


# ---------------------------------------------------------------------------
# PII redaction — the C4/Dolma-style scrub pass
# ---------------------------------------------------------------------------

# ASCII-only patterns chosen to behave identically under Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround, no unicode
# classes. Keep them simple on purpose — a production scrub plugs its
# own pattern table into the same op.
EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PAT = r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"


def redact_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_phones, redacted): count and mask email
    addresses and NNN-NNN-NNNN phone numbers — the standard PII scrub
    of public curation pipelines (C4/Dolma), as a pure projection
    (per-doc regex work, zero shuffles; JVM regexp expressions, no
    Python in the path). Emails are masked before phones so a phone
    inside a masked email is not double-counted."""
    # Column-API regexps only: embedding these patterns in an F.expr
    # SQL literal would eat the backslashes (Spark SQL treats '\b' as
    # an escape), silently turning \b into backspace
    emails = F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_PAT), F.lit(0)))
    no_email = F.regexp_replace(F.col("text"), EMAIL_PAT, "<EMAIL>")
    phones = F.size(F.regexp_extract_all(no_email, F.lit(PHONE_PAT), F.lit(0)))
    return docs.select(
        "doc_id",
        emails.cast("long").alias("n_emails"),
        phones.cast("long").alias("n_phones"),
        F.regexp_replace(no_email, PHONE_PAT, "<PHONE>").alias("redacted"),
    )


def redact_pii_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`redact_pii` (RE2; 'g' flag = replace all,
    matching Spark's regexp_replace default)."""
    return f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_PAT}'))::BIGINT AS n_emails,
       len(regexp_extract_all(regexp_replace(text, '{EMAIL_PAT}', '<EMAIL>', 'g'),
                              '{PHONE_PAT}'))::BIGINT AS n_phones,
       regexp_replace(regexp_replace(text, '{EMAIL_PAT}', '<EMAIL>', 'g'),
                      '{PHONE_PAT}', '<PHONE>', 'g') AS redacted
FROM {table}
"""


TFIDF_TOP_TERMS = 5


def tfidf_topk(docs: DataFrame, k: int = TFIDF_TOP_TERMS) -> DataFrame:
    """(doc_id, term, tf, df, score_ppm, rnk): the top-k most
    characteristic terms per document by a tf·idf-family score — the
    keyword-extraction / routing-feature step of a corpus pipeline.

    Scoring convention: ``score_ppm = tf * 1_000_000 // (1 + df)`` —
    monotone up in term frequency, down in document frequency, exactly
    like tf·idf rankings, but computed entirely in int64 floor-division
    so Spark and the DuckDB oracle hash bit-identically (a float
    ``ln((N+1)/(df+1))`` would round differently across libm builds —
    the repo-wide integer-ppm convention).

    Distributed shape — no persist, no unsplittable partitions:
    1. tokenize ONCE into a projected column (no-CSE-in-lambdas rule),
       explode, count tf per (doc_id, term) — map-side combine carries
       one row per distinct pair into the shuffle;
    2. df per term as ``pairs.groupBy(term).count()`` — map-side
       combine collapses to ONE row per term before the shuffle —
       joined back to the pair table on term. The join is the skew-
       safe shape: AQE can split a Zipf-hot term's probe side across
       tasks (a window partitionBy(term) cannot — the r8 shape put
       every (doc, "the") pair through one task's sort at scale), and
       with a vocab-sized build side AQE upgrades it to broadcast,
       eliminating the probe shuffle entirely. No ``.persist()`` for
       the pairs diamond: both consumers read the identical aggregate,
       so Catalyst's ReuseExchange serves them from one shuffle (the
       r7 persist leaked across the driver's 100-entry session);
    3. per-doc top-k via row_number partitioned by doc_id (millions of
       small partitions — the scalable window axis; ties break
       (score desc, term asc) so the cut is total).
    """
    pairs = (
        docs.select("doc_id", F.explode(tokens_expr("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfs = pairs.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = pairs.join(dfs, "term").withColumn(
        "score_ppm",
        F.expr("CAST(tf * 1000000 DIV (1 + df) AS BIGINT)"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "score_ppm", "rnk")
    )


def tfidf_topk_sql(k: int = TFIDF_TOP_TERMS) -> str:
    return f"""
WITH pairs AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> ''
  GROUP BY doc_id, term
),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM pairs GROUP BY term),
scored AS (
  SELECT p.doc_id, p.term, p.tf, d.df,
         (p.tf * 1000000 // (1 + d.df))::BIGINT AS score_ppm
  FROM pairs p JOIN dfs d USING (term)
)
SELECT doc_id, term, tf, df, score_ppm, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, term ASC) AS rnk
  FROM scored
) WHERE rnk <= {k}
"""


# ---------------------------------------------------------------------------
# Linear quality classifier — the fasttext-style keep/drop filter of
# web-corpus pipelines (CCNet-family heuristics), as a pure column
# expression.
# ---------------------------------------------------------------------------

# Documented fixed weights over exact per-doc ratios. The FORM is the
# operator (a linear model over cheap text features, scoring the whole
# corpus in one whole-stage-codegen'd scan, no Python); the weights are
# a placeholder a deployment would learn offline and paste in.
QC_BIAS = -2.0
QC_W_LEN = 1.5       # length score: least(n_tokens, 200)/200
QC_W_DISTINCT = 1.2  # type/token ratio (redundancy)
QC_W_ALPHA = 1.8     # alphabetic+space character fraction
QC_W_DIGIT = -2.5    # digit character fraction (boilerplate/tables)
QC_W_STOP = 0.8      # stopword fraction (natural-language prose signal)


def quality_classifier(docs: DataFrame, hoist: bool = False) -> DataFrame:
    """(doc_id, logit_ppm, keep): linear quality classifier over exact
    text-feature ratios — keep = (w·x + b >= 0).

    Emits the LOGIT (not a sigmoid) — it orders and thresholds docs
    identically, and it is a fixed-order sum of IEEE double products,
    so Spark and the DuckDB oracle round bit-identically; an
    ``exp``/``ln`` would vary across libm builds (the repo-wide rule,
    see tfidf_topk). All features are one projection over the doc scan:
    zero shuffles, zero UDFs, whole-stage codegen end to end.
    ``hoist``: see :func:`text_stats` — the r11 A/B picked inline
    (codegen subexpression elimination already runs the split once)."""
    if hoist:
        t = docs.select("doc_id", "text", tokens_expr("text").alias("ws"))
        ws = F.col("ws")
    else:
        t = docs
        ws = tokens_expr("text")
    n_tokens = F.size(ws).cast("double")
    f_len = F.least(n_tokens, F.lit(200.0)) / F.lit(200.0)
    f_distinct = F.size(F.array_distinct(ws)).cast("double") / n_tokens
    n_chars = F.length("text").cast("double")
    f_alpha = (
        F.length(F.regexp_replace("text", "[^A-Za-z ]", "")).cast("double") / n_chars
    )
    f_digit = (
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double") / n_chars
    )
    f_stop = (
        F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS))).cast("double") / n_tokens
    )
    z = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_LEN) * f_len
        + F.lit(QC_W_DISTINCT) * f_distinct
        + F.lit(QC_W_ALPHA) * f_alpha
        + F.lit(QC_W_DIGIT) * f_digit
        + F.lit(QC_W_STOP) * f_stop
    )
    return t.select(
        "doc_id",
        F.floor(z * F.lit(1e6)).cast("long").alias("logit_ppm"),
        (z >= F.lit(0.0)).alias("keep"),
    )


def quality_classifier_sql(table: str = "documents") -> str:
    return f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM {table}),
f AS (
  SELECT doc_id,
         least(len(ws)::DOUBLE, 200.0) / 200.0 AS f_len,
         len(list_distinct(ws))::DOUBLE / len(ws)::DOUBLE AS f_distinct,
         length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE
           / length(text)::DOUBLE AS f_alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
           / length(text)::DOUBLE AS f_digit,
         len(list_filter(ws, w -> list_contains([{_sql_list(STOPWORDS)}], w)))::DOUBLE
           / len(ws)::DOUBLE AS f_stop
  FROM t
),
z AS (
  SELECT doc_id,
         {QC_BIAS} + {QC_W_LEN} * f_len + {QC_W_DISTINCT} * f_distinct
         + {QC_W_ALPHA} * f_alpha + {QC_W_DIGIT} * f_digit
         + {QC_W_STOP} * f_stop AS z
  FROM f
)
SELECT doc_id,
       CAST(floor(z * 1e6) AS BIGINT) AS logit_ppm,
       z >= 0.0 AS keep
FROM z
"""


QUALITY_CLASSIFIER_SQL = quality_classifier_sql()


def source_quality_summary(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_keep, keep_ppm, avg_logit_ppm, n_langs):
    per-source (the corpus's domain analogue) quality roll-up — the
    domain-level filter table a web pipeline thresholds to drop whole
    hosts. One classifier scan + one map-side-combined groupBy; the
    result is |sources|-sized (catalog-scale at any corpus size).
    Integer fields only: ppm ratios via int64 floor-division."""
    scored = quality_classifier(docs).join(
        docs.select("doc_id", "source", "lang"), "doc_id"
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep"),
            F.sum("logit_ppm").cast("long").alias("sum_logit_ppm"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            F.expr("n_keep * 1000000 DIV n_docs").cast("long").alias("keep_ppm"),
            F.expr(
                "CASE WHEN sum_logit_ppm >= 0 THEN sum_logit_ppm DIV n_docs "
                "ELSE -((-sum_logit_ppm) DIV n_docs) END"
            ).cast("long").alias("avg_logit_ppm"),
            "n_langs",
        )
    )


def source_quality_summary_sql(table: str = "documents") -> str:
    # NOTE: avg uses truncate-toward-zero on both sides (Spark DIV
    # truncates; DuckDB // floors, so negative sums are sign-split)
    return f"""
WITH q AS ({quality_classifier_sql(table)}),
s AS (
  SELECT q.doc_id, q.logit_ppm, q.keep, d.source, d.lang
  FROM q JOIN {table} d USING (doc_id)
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
       (sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT * 1000000
         // count(*)::BIGINT)::BIGINT AS keep_ppm,
       (CASE WHEN sum(logit_ppm) >= 0 THEN sum(logit_ppm) // count(*)
             ELSE -((-sum(logit_ppm)) // count(*)) END)::BIGINT AS avg_logit_ppm,
       count(DISTINCT lang)::BIGINT AS n_langs
FROM s GROUP BY source
"""


SOURCE_QUALITY_SUMMARY_SQL = source_quality_summary_sql()


# ---------------------------------------------------------------------------
# Corpus-trained bigram language-model scoring — the perplexity-family
# fluency feature of corpus pipelines, in exact int64 arithmetic.
# ---------------------------------------------------------------------------


def bigram_likelihood(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, ll_ppm_sum, avg_ppm): score every document
    by the corpus's own bigram model — for each adjacent token pair,
    the conditional probability P(w2|w1) = c(w1,w2)/c(w1,·) as integer
    ppm, summed and averaged per doc. The perplexity-bucketing shape
    (KenLM-style fluency scoring) with the model trained in-plan on the
    corpus itself; all arithmetic is int64 floor-division so the oracle
    hashes bit-identically (no ``ln`` — repo-wide rule, see tfidf_topk).

    Distributed shape: ONE tokenize+explode produces the (doc, w1, w2)
    occurrence table; the model is two map-side-combined aggregations
    over it (distinct-bigram- and vocab-sized — broadcast-eligible, and
    AQE upgrades the score join when they fit); the hot-prefix join is
    the AQE-skew-splittable shape, not a window. Docs with <2 tokens
    surface with zeroed scores via the left join."""
    toks = docs.select("doc_id", tokens_expr("text").alias("ws"))
    ws = F.col("ws")
    # slice-zip bigrams: slice(ws, 2, n-1) is [] for 1-token docs, so
    # no when/otherwise branch is needed; split hoisted (one per row)
    n = F.size(ws)
    bi = F.arrays_zip(
        F.slice(ws, 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.slice(ws, 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
    )
    bg = toks.select("doc_id", F.explode(bi).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    model = c2.join(c1, "w1").withColumn(
        "ppm", F.expr("c2 * 1000000 DIV c1").cast("long")
    )
    scored = (
        bg.join(model.select("w1", "w2", "ppm"), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("ppm").cast("long").alias("ll_ppm_sum"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("ll_ppm_sum", F.lit(0)).cast("long").alias("ll_ppm_sum"),
            F.coalesce(
                F.expr("ll_ppm_sum DIV n_bigrams"), F.lit(0)
            ).cast("long").alias("avg_ppm"),
        )
    )


BIGRAM_LIKELIHOOD_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM t, unnest(range(1, len(ws))) AS u(i)
),
c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY 1),
model AS (
  SELECT c2.w1, c2.w2, (c2.c2 * 1000000 // c1.c1)::BIGINT AS ppm
  FROM c2 JOIN c1 USING (w1)
),
scored AS (
  SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams, sum(ppm)::BIGINT AS ll_ppm_sum
  FROM bg JOIN model USING (w1, w2) GROUP BY bg.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(s.ll_ppm_sum, 0)::BIGINT AS ll_ppm_sum,
       coalesce(s.ll_ppm_sum // s.n_bigrams, 0)::BIGINT AS avg_ppm
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Cross-document n-gram duplication — the C4/RefinedWeb corpus-level
# boilerplate signal (text_repetition is the WITHIN-doc sibling).
# ---------------------------------------------------------------------------

DUP_NGRAM_N = 3


def dup_ngram_stats(docs: DataFrame, n: int = DUP_NGRAM_N) -> DataFrame:
    """(doc_id, n_3grams, shared_3grams, dup_3gram_ppm): per document,
    the fraction of its word n-gram occurrences whose gram also appears
    in at least one OTHER document — the duplicated-n-gram-fraction
    filter web pipelines use to drop template/boilerplate pages (the
    cross-document complement of :func:`text_repetition`).

    Distributed shape (the tfidf_topk pattern): one tokenize+explode →
    map-side-combined (doc, gram) counts; gram doc-frequency as
    ``groupBy(gram).count()`` over that pair table (one row per gram
    after combine) joined back on gram — AQE can skew-split a hot
    boilerplate gram's probe side and broadcast-upgrade the vocab-sized
    build side; never a window keyed by gram. All-integer output."""
    ws = docs.select("doc_id", F.split("text", " ").alias("ws"))
    grams = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(ws) < {n} THEN array() ELSE "
                f"transform(sequence(1, size(ws) - {n} + 1), "
                f"i -> concat_ws(' ', slice(ws, i, {n}))) END"
            )
        ).alias("gram"),
    )
    pairs = grams.groupBy("doc_id", "gram").agg(
        F.count("*").cast("long").alias("cnt")
    )
    dfs = pairs.groupBy("gram").agg(F.count("*").cast("long").alias("gdf"))
    per_doc = (
        pairs.join(dfs, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("gdf") >= 2, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("shared"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_3grams"),
            F.coalesce("shared", F.lit(0)).cast("long").alias("shared_3grams"),
            F.coalesce(
                F.expr("shared * 1000000 DIV n_grams"), F.lit(0)
            ).cast("long").alias("dup_3gram_ppm"),
        )
    )


def dup_ngram_stats_sql(n: int = DUP_NGRAM_N) -> str:
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - {n} + 1, 0) + 1),
                               i -> array_to_string(ws[i : i + {n} - 1], ' '))) AS gram
  FROM t
),
pairs AS (SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM g GROUP BY 1, 2),
dfs AS (SELECT gram, count(*)::BIGINT AS gdf FROM pairs GROUP BY 1),
per_doc AS (
  SELECT p.doc_id,
         sum(p.cnt)::BIGINT AS n_grams,
         sum(CASE WHEN d.gdf >= 2 THEN p.cnt ELSE 0 END)::BIGINT AS shared
  FROM pairs p JOIN dfs d USING (gram) GROUP BY p.doc_id
)
SELECT d.doc_id,
       coalesce(x.n_grams, 0)::BIGINT AS n_3grams,
       coalesce(x.shared, 0)::BIGINT AS shared_3grams,
       coalesce(x.shared * 1000000 // x.n_grams, 0)::BIGINT AS dup_3gram_ppm
FROM documents d LEFT JOIN per_doc x USING (doc_id)
"""


DUP_NGRAM_STATS_SQL = dup_ngram_stats_sql()
