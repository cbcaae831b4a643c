"""Text-analysis operators over the `documents` table — all JVM-side builtins.

These are the web-text companions to the link-graph engine (a 100 TB
Common-Crawl pipeline filters/scores documents before/alongside building the
link graph). Every function is a pure Column expression — whole-stage codegen,
no Python in the hot path — and each has a matching ANSI-SQL oracle string so
the driver can verify byte-exact semantics in DuckDB.

Determinism notes: anything float is rounded at a declared precision in both
engines; token/character semantics use explicit regexes shared (literally, as
strings) between the Spark and SQL forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# A deliberately simple, engine-portable word regex (ASCII-ish; avoids
# regex-dialect divergence between Java and DuckDB/RE2).
WORD_RE = "[A-Za-z0-9']+"

# Tiny embedded stopword lists for the n-gram language heuristic.
_STOP = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "it", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "von", "mit", "den", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "que", "une", "pour"],
    "es": ["el", "la", "de", "que", "los", "las", "por", "con", "una", "para"],
}


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace/word tokens per document. Output (doc_id, n_tokens)."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(WORD_RE), 0)
    return docs.select(
        "doc_id", F.size(toks).cast("long").alias("n_tokens")
    )


TOKEN_COUNT_SQL = (
    "SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9'']+')) AS BIGINT) "
    "AS n_tokens FROM documents ORDER BY doc_id"
)


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features: length, word count, mean word length,
    punctuation ratio, stopword ratio — the standard pre-training filters.
    Floats rounded to 6 digits for oracle parity.
    Output (doc_id, n_chars, n_words, mean_word_len, punct_ratio, stop_ratio).
    """
    # tokenization hoisted into its own projection: the five output columns
    # reference it, and an interpreted Project (higher-order functions are not
    # codegen'd) does no common-subexpression elimination — inlining `toks`
    # would run the word regex over the full text 4× per row
    tokked = docs.select(
        "doc_id",
        F.col("text"),
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0).alias("__toks"),
    )
    toks = F.col("__toks")
    n_chars = F.length("text").cast("long")
    n_words = F.size(toks).cast("long")
    word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_punct = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), r"[.,;:!?]", ""))
    ).cast("long")
    en_stops = F.array(*[F.lit(s) for s in _STOP["en"]])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(en_stops, w)))
    return tokked.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(word_chars / F.greatest(n_words, F.lit(1)), 6).alias("mean_word_len"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_words, F.lit(1)), 6).alias("stop_ratio"),
    )


QUALITY_SCORE_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '[A-Za-z0-9'']+') AS toks
  FROM documents
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(toks) AS BIGINT) AS n_words,
  round(CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
        / greatest(len(toks), 1), 6) AS mean_word_len,
  round(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 6) AS punct_ratio,
  round(CAST(len(list_filter(toks, w -> list_contains({_STOP['en']!r}, w))) AS DOUBLE)
        / greatest(len(toks), 1), 6) AS stop_ratio
FROM t ORDER BY doc_id
""".strip()


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID: the language whose stopword list matches the
    most tokens wins (ties → lexicographically first language, 'und' if zero
    matches). Output (doc_id, lang_pred)."""
    # same hoist as quality_score: one tokenization, referenced per language
    tokked = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0).alias("__toks"),
    )
    toks = F.col("__toks")

    def contains(stops):
        # single-arg lambda factory: a 2-arg lambda would be interpreted by
        # F.filter as (element, index)
        return lambda w: F.array_contains(stops, w)

    scores = []
    for lang in sorted(_STOP):
        stops = F.array(*[F.lit(s) for s in _STOP[lang]])
        scores.append(
            F.struct(
                F.size(F.filter(toks, contains(stops))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # max by (hits, reversed-lang) would break ties toward z; we want first
    # alphabetically, so compare hits first and keep earliest on ties via
    # array_sort + element_at.
    arr = F.array(*scores)
    best = F.aggregate(
        arr,
        F.struct(F.lit(-1).alias("hits"), F.lit("und").alias("lang")),
        lambda acc, s: F.when(s["hits"] > acc["hits"], s).otherwise(acc),
    )
    return tokked.select(
        "doc_id",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
    )


def _lang_sql_score(lang: str) -> str:
    return (
        f"len(list_filter(regexp_extract_all(lower(text), '[A-Za-z0-9'']+'), "
        f"w -> list_contains({_STOP[lang]!r}, w)))"
    )


LANGUAGE_ID_SQL = (
    "WITH s AS (SELECT doc_id, "
    + ", ".join(f"{_lang_sql_score(l)} AS h_{l}" for l in sorted(_STOP))
    + " FROM documents) SELECT doc_id, CASE WHEN greatest("
    + ", ".join(f"h_{l}" for l in sorted(_STOP))
    + ") <= 0 THEN 'und' "
    + " ".join(
        f"WHEN h_{l} = greatest(" + ", ".join(f"h_{m}" for m in sorted(_STOP)) + f") THEN '{l}'"
        for l in sorted(_STOP)
    )
    + " END AS lang_pred FROM s ORDER BY doc_id"
)


def fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 of the whitespace-normalized,
    lowercased text — the exact-dedup key and the per-url byte-identity
    invariant check (input_hint). Output (doc_id, fp)."""
    norm = F.trim(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return docs.select("doc_id", F.md5(norm.cast("binary")).alias("fp"))


FINGERPRINT_SQL = (
    "SELECT doc_id, md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp "
    "FROM documents ORDER BY doc_id"
)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken — "Winnowing: Local
# Algorithms for Document Fingerprinting", SIGMOD'03): the document-overlap
# detector that guarantees any match of length ≥ w+k-1 shares a fingerprint.
# ---------------------------------------------------------------------------

def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Winnowed k-gram fingerprints per document.

    Pipeline (all Column expressions — the explode is the only row expansion):
    normalize text → one hash per k-gram position (md5 prefix, a string so
    min-comparison is engine-portable) → min over each window of ``w``
    consecutive hashes (ties broken by position via a zero-padded suffix, the
    deterministic stand-in for the paper's rightmost-min rule) → distinct
    selected fingerprints. Output ``(doc_id, fp: string, fp_pos: long)``.

    Scale: per-doc windows are tiny (|text| rows), so the window function
    partitions by doc_id — no global window, no skew beyond document length,
    which upstream quality filters already bound.
    """
    from pyspark.sql import Window

    norm = F.trim(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    t = docs.select("doc_id", norm.alias("t")).where(F.length("t") >= k)
    grams = t.select(
        "doc_id",
        F.length("t").alias("lt"),
        F.explode(F.sequence(F.lit(1), F.length("t") - k + 1)).alias("pos"),
        F.col("t"),
    )
    gram = F.col("t").substr(F.col("pos"), F.lit(k))
    tag = F.concat(
        F.substring(F.md5(F.encode(gram, "UTF-8")), 1, 8),
        F.lit(":"),
        F.lpad(F.col("pos").cast("string"), 10, "0"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    selected = (
        grams.select("doc_id", "pos", "lt", F.min(tag).over(win).alias("sel"))
        # only full windows (the paper's n-k+2-w windows); the tail's partial
        # windows would otherwise select extra fingerprints
        .where(F.col("pos") <= F.col("lt") - k + 1 - (w - 1))
    )
    return selected.select(
        "doc_id",
        F.substring("sel", 1, 8).alias("fp"),
        F.substring("sel", 10, 10).cast("long").alias("fp_pos"),
    ).distinct()


def winnow_sql(k: int = 8, w: int = 4) -> str:
    """DuckDB twin of ``winnow_fingerprints`` — same normalization, same md5
    k-gram tags, same windowed min + full-window filter + distinct."""
    return f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM documents
), g AS MATERIALIZED (
  SELECT doc_id, length(t) AS lt,
         unnest(generate_series(1, length(t) - {k} + 1)) AS pos, t
  FROM t WHERE length(t) >= {k}
), tagged AS (
  SELECT doc_id, pos, lt,
         substr(md5(substr(t, CAST(pos AS INTEGER), {k})), 1, 8) || ':' ||
         lpad(CAST(pos AS VARCHAR), 10, '0') AS tag
  FROM g
), win AS (
  SELECT doc_id, pos, lt,
         min(tag) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS sel
  FROM tagged
) SELECT DISTINCT doc_id, substr(sel, 1, 8) AS fp,
         CAST(substr(sel, 10, 10) AS BIGINT) AS fp_pos
FROM win WHERE pos <= lt - {k} + 1 - {w - 1} ORDER BY doc_id, fp_pos
""".strip()


# ---------------------------------------------------------------------------
# Corpus repetition statistics (the C4 / RefinedWeb "repetition" filters):
# fraction of duplicated word n-grams per document, and the corpus-wide most
# duplicated n-grams. The per-doc form is the standard pre-training quality
# gate; the corpus form is the boilerplate detector (navigation strings,
# cookie banners) that upstream crawl cleaning feeds on.
# ---------------------------------------------------------------------------

def _word_ngrams(n: int):
    """Column factory: lowercase word tokens → array of space-joined word
    n-grams (empty when the document has fewer than ``n`` tokens — the
    Spark ``sequence(1, 0)`` default step would otherwise DESCEND)."""
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return grams


def ngram_dup_ratio(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document duplicated word-n-gram ratio: the fraction of n-gram
    occurrences whose n-gram appears more than once IN THE SAME document,
    i.e. ``(total − distinct) / total`` (0.0 when the doc has < n words).

    Entirely per-row Column expressions — tokenize, build the n-gram array,
    count distinct inside the array. No explode, no shuffle, no Python: at
    100 TB this runs as a narrow map over the document scan, the cheapest
    possible shape for a corpus-wide quality pass.

    Output: ``(doc_id, n_ngrams: long, n_distinct: long, dup_ratio)``
    (ratio rounded to 6 digits for oracle parity).
    """
    # hoisted projection: interpreted Project (higher-order fns are not
    # codegen'd) does no CSE — inlining `grams` would re-tokenize per column
    g = docs.select("doc_id", _word_ngrams(n).alias("__grams"))
    total = F.size("__grams").cast("long")
    distinct = F.size(F.array_distinct("__grams")).cast("long")
    return g.select(
        "doc_id",
        total.alias("n_ngrams"),
        distinct.alias("n_distinct"),
        F.round(
            (total - distinct) / F.greatest(total, F.lit(1)), 6
        ).alias("dup_ratio"),
    )


def ngram_dup_ratio_sql(n: int = 3) -> str:
    """DuckDB twin of ``ngram_dup_ratio`` — same tokens, same n-gram join,
    same (total − distinct)/total arithmetic."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), g AS (
  SELECT doc_id, list_transform(
           generate_series(1, greatest(len(toks) - {n} + 1, 0)),
           i -> array_to_string(toks[i:i+{n - 1}], ' ')) AS grams
  FROM t
)
SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_ngrams,
  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
  round(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
        / greatest(len(grams), 1), 6) AS dup_ratio
FROM g ORDER BY doc_id
""".strip()


def ngram_top_dups(docs: DataFrame, n: int = 3, top: int = 20,
                   salts: int = 32) -> DataFrame:
    """Corpus-level most-duplicated word n-grams: explode every document's
    n-grams, count occurrences corpus-wide, keep n-grams seen more than once,
    return the ``top`` by count (ties broken by n-gram text — deterministic).

    The count goes through ``skew.salted_count``: boilerplate n-grams
    ("click here to", cookie-banner phrases) are exactly the hot keys a
    single-reducer groupBy would bottleneck on at crawl scale — the salted
    two-stage aggregate spreads each hot n-gram over ``salts`` partial
    reducers before the tiny final merge.

    Output: ``(ngram: string, cnt: long)``.
    """
    from trianglecounting_spark.operators.skew import salted_count

    occurrences = docs.select(
        F.explode(_word_ngrams(n)).alias("ngram")
    )
    counts = salted_count(occurrences, "ngram", salts=salts)
    return (
        counts.where(F.col("cnt") > 1)
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(top)
    )


def ngram_top_dups_sql(n: int = 3, top: int = 20) -> str:
    """DuckDB twin of ``ngram_top_dups`` (a plain group-count — the salting
    is a physical-plan choice with no semantic footprint)."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), g AS (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(toks) - {n} + 1, 0)),
           i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS ngram
  FROM t
)
SELECT ngram, CAST(count(*) AS BIGINT) AS cnt FROM g
GROUP BY ngram HAVING count(*) > 1
ORDER BY cnt DESC, ngram ASC LIMIT {top}
""".strip()


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the classic sparse
    feature-extraction pass of a text pipeline.

    score(term, doc) = tf · ln(N / df), with tf the in-doc term count, df
    the number of documents containing the term, N the corpus size. Ties
    broken deterministically by (score desc, term asc). The doc-frequency
    aggregate and the per-doc window both shuffle on bounded keys (terms /
    doc_id); no Python touches data. Scores are rounded to 6 digits for
    oracle parity (both engines compute the same double ln).

    Output: ``(doc_id, term, tf, df, score)``, ≤ k rows per document.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # corpus size rides the plan as a broadcast 1-row aggregate — no separate
    # driver-side count() action per call
    nd = docs.select(F.count_distinct("doc_id").cast("double").alias("__n_docs"))
    scored = tf.join(df_, "term").crossJoin(F.broadcast(nd)).select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * F.log(F.col("__n_docs") / F.col("df")), 6).alias(
            "score"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def tfidf_top_terms_sql(k: int = 5) -> str:
    """DuckDB twin of ``tfidf_top_terms`` — same tokens, same tf/df
    aggregates, same ln-based score and (score desc, term asc) window."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    return f"""
WITH tk AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tk GROUP BY doc_id, term
), dfq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         round(tf.tf * ln(CAST((SELECT n FROM nd) AS DOUBLE) / dfq.df), 6) AS score
  FROM tf JOIN dfq USING (term)
)
SELECT doc_id, term, tf, df, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, term ASC) AS rk
  FROM scored
) WHERE rk <= {k} ORDER BY doc_id, score DESC, term
""".strip()


# ---------------------------------------------------------------------------
# Cross-document duplicated SPANS (substring-level dedup, Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"): document-level
# dedup (exact/MinHash/SimHash/embedding, functions/dedup.py) misses the long
# boilerplate span repeated inside otherwise-distinct pages. Candidate
# generation is the winnowing fingerprint set already computed above — the
# SIGMOD'03 guarantee means any shared span of length >= w+k-1 shares at
# least one selected fingerprint, so fingerprint collisions across documents
# are a complete detector at that threshold (the suffix-array exactness of
# the paper traded for a distributable, oracle-expressible candidate set).
# ---------------------------------------------------------------------------

def duplicated_spans(
    docs: DataFrame, k: int = 8, w: int = 4, min_docs: int = 2
) -> DataFrame:
    """Winnowed fingerprint positions whose fingerprint occurs in at least
    ``min_docs`` DISTINCT documents — the per-position duplicated-span
    markers. Output ``(doc_id, fp, fp_pos)``.

    Scale: the doc-distinct projection bounds every ``fp`` group to at most
    n_docs rows before the count, and the count itself is a map-side-combined
    groupBy — a boilerplate fingerprint present in every document costs one
    partial count per partition, never a hot-key row pileup. The final
    membership join is a semi join on ``fp`` (well-spread md5 prefixes)."""
    fps = winnow_fingerprints(docs, k=k, w=w)
    docfp = fps.select("doc_id", "fp").distinct()
    dup = (
        docfp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("fp")
    )
    return fps.join(dup, "fp", "left_semi").select("doc_id", "fp", "fp_pos")


def duplicated_span_stats(
    docs: DataFrame, k: int = 8, w: int = 4, min_docs: int = 2
) -> DataFrame:
    """Per-document substring-dedup profile: how much of each document's
    fingerprint set is shared with other documents. Output
    ``(doc_id, n_fps, n_dup_fps, dup_span_ratio)`` over every document with
    at least one fingerprint (length >= k after normalization); the ratio is
    the standard removal-priority signal (rounded to 6 digits for oracle
    parity)."""
    fps = winnow_fingerprints(docs, k=k, w=w)
    docfp = fps.select("doc_id", "fp").distinct()
    dup = (
        docfp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("fp", F.lit(1).alias("is_dup"))
    )
    marked = fps.join(dup, "fp", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fps"),
            F.count("is_dup").cast("long").alias("n_dup_fps"),
        )
        .select(
            "doc_id",
            "n_fps",
            "n_dup_fps",
            F.round(F.col("n_dup_fps") / F.col("n_fps"), 6).alias("dup_span_ratio"),
        )
    )


def duplicated_span_stats_sql(k: int = 8, w: int = 4, min_docs: int = 2) -> str:
    """DuckDB twin of ``duplicated_span_stats`` — reuses the winnow SQL as
    the candidate CTE, then the same distinct-doc count + threshold + per-doc
    aggregate."""
    return (
        f"WITH wf AS MATERIALIZED ({winnow_sql(k=k, w=w)}), "
        "docfp AS (SELECT DISTINCT doc_id, fp FROM wf), "
        f"dup AS (SELECT fp FROM docfp GROUP BY fp HAVING count(*) >= {min_docs}) "
        "SELECT wf.doc_id, CAST(count(*) AS BIGINT) AS n_fps, "
        "CAST(count(d.fp) AS BIGINT) AS n_dup_fps, "
        "round(CAST(count(d.fp) AS DOUBLE) / count(*), 6) AS dup_span_ratio "
        "FROM wf LEFT JOIN dup d ON d.fp = wf.fp GROUP BY wf.doc_id"
    )


def mask_duplicated_spans(
    docs: DataFrame, k: int = 8, w: int = 4, min_docs: int = 2
) -> DataFrame:
    """Merged character intervals to cut from each document: every duplicated
    fingerprint at ``fp_pos`` covers positions ``[fp_pos, fp_pos + k - 1]``
    (1-based, inclusive) of the NORMALIZED text; overlapping or adjacent
    intervals merge via the classic prefix-max sweep. Output
    ``(doc_id, span_start, span_end)`` — the removal plan a masking rewrite
    consumes.

    Scale: both window functions partition by ``doc_id`` — per-document work
    only, bounded by document length like the winnowing pass itself."""
    from pyspark.sql import Window

    spans = duplicated_spans(docs, k=k, w=w, min_docs=min_docs).select(
        "doc_id",
        F.col("fp_pos").alias("start"),
        (F.col("fp_pos") + k - 1).alias("end"),
    )
    win = Window.partitionBy("doc_id").orderBy("start", "end")
    prev_max_end = F.max("end").over(win.rowsBetween(Window.unboundedPreceding, -1))
    grouped = spans.select(
        "doc_id",
        "start",
        "end",
        F.when(
            prev_max_end.isNull() | (F.col("start") > prev_max_end + 1), 1
        ).otherwise(0).alias("is_new"),
    ).select(
        "doc_id",
        "start",
        "end",
        F.sum("is_new").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias("grp"),
    )
    return (
        grouped.groupBy("doc_id", "grp")
        .agg(
            F.min("start").cast("long").alias("span_start"),
            F.max("end").cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def remove_duplicated_spans(
    docs: DataFrame, k: int = 20, w: int = 8, min_docs: int = 2
) -> DataFrame:
    """Rewrite step of the substring-dedup pipeline (detect →
    ``mask_duplicated_spans`` → REMOVE): cut every masked interval out of the
    NORMALIZED text (mask positions are 1-based offsets into the normalized
    form — whitespace-collapsed, lowercased, trimmed — so the rewrite applies
    there). Documents with no duplicated spans pass through intact.

    Entirely Column expressions: per-doc intervals are collected (bounded by
    document length), and the splice is one ``F.aggregate`` over the sorted
    interval array — each step appends the kept segment before the interval
    and advances the cursor past it; the finish lambda appends the tail. No
    Python touches data; per-doc work only, like the winnowing pass.

    Output: ``(doc_id, clean_text, n_removed_chars)``.
    """
    norm = F.trim(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    base = docs.select("doc_id", norm.alias("__norm"))
    masks = mask_duplicated_spans(docs, k=k, w=w, min_docs=min_docs)
    ivs = masks.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            )
        ).alias("__ivs")
    )
    j = base.join(ivs, "doc_id", "left")
    ivs_col = F.coalesce(
        F.col("__ivs"), F.array().cast("array<struct<s:bigint,e:bigint>>")
    )
    acc0 = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("acc")
    )

    def _merge(a, iv):
        return F.struct(
            (iv["e"] + 1).cast("long").alias("pos"),
            F.concat(
                a["acc"], F.col("__norm").substr(a["pos"], iv["s"] - a["pos"])
            ).alias("acc"),
        )

    def _finish(a):
        return F.concat(
            a["acc"],
            F.col("__norm").substr(a["pos"], F.length("__norm").cast("long")),
        )

    clean = F.aggregate(ivs_col, acc0, _merge, _finish)
    return j.select(
        "doc_id",
        clean.alias("clean_text"),
        (F.length("__norm") - F.length(clean)).cast("long").alias("n_removed_chars"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (the redaction pass every training-data pipeline runs before
# anything is retained): count + replace emails/phones with typed tokens.
# Regexes deliberately simple and dialect-portable (Java regex == RE2 here).
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Per-document PII profile + redacted-text fingerprint: emails replaced
    with ``[EMAIL]``, then phones with ``[PHONE]`` (that order in BOTH
    engines — the oracle replays it literally). The fingerprint stands in
    for the full rewritten text so the row stays hash-comparable.

    Output ``(doc_id, n_emails, n_phones, scrubbed_fp)``; pure Column
    expressions, narrow map over the scan.
    """
    text = F.col("text")
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)).cast("long")
    n_phones = F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)).cast("long")
    scrub = F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(scrub.cast("binary")).alias("scrubbed_fp"),
    )


def pii_scrub_sql(docs_rel: str = "documents") -> str:
    """DuckDB twin of ``pii_scrub`` (same regexes, same replace order)."""
    e, p = EMAIL_RE.replace("'", "''"), PHONE_RE.replace("'", "''")
    return (
        f"SELECT doc_id, "
        f"CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_emails, "
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_phones, "
        f"md5(regexp_replace(regexp_replace(text, '{e}', '[EMAIL]', 'g'), "
        f"'{p}', '[PHONE]', 'g')) AS scrubbed_fp "
        f"FROM {docs_rel}"
    )


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, appendix A1.1 —
    the de-facto standard pre-training text filter), as one pure-Column pass:

      * 50 ≤ word count ≤ 100 000
      * 3 ≤ mean word length ≤ 10
      * symbol-to-word ratio ('#' chars + '...' runs) ≤ 0.1
      * ≤ 90% of lines start with a bullet ('-' or '*')
      * ≤ 30% of lines end with an ellipsis
      * ≥ 80% of words contain an alphabetic character
      * ≥ 2 English stop words

    Output one row per document with every measured feature plus the fused
    ``keep`` verdict, so downstream can either filter on ``keep`` or re-cut
    on individual rules. All thresholds inclusive as stated; floats rounded
    to 6dp for oracle parity. Tokenization/line-splitting are hoisted into
    their own projection (interpreted HOF Projects do no CSE — see
    quality_score). Scale: a narrow per-row map, no shuffle at all.
    """
    tokked = docs.select(
        "doc_id",
        F.col("text"),
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0).alias("__toks"),
        F.split(F.col("text"), "\n").alias("__lines"),
    )
    toks, lines = F.col("__toks"), F.col("__lines")
    n_words = F.size(toks).cast("long")
    word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = F.round(word_chars / F.greatest(n_words, F.lit(1)), 6)
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ellipsis = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / F.lit(3)
    symbol_ratio = F.round(
        (n_hash + n_ellipsis) / F.greatest(n_words, F.lit(1)), 6
    )
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*]"))).cast("long")
    n_ell_end = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$"))).cast("long")
    bullet_ratio = F.round(n_bullet / F.greatest(n_lines, F.lit(1)), 6)
    ellipsis_ratio = F.round(n_ell_end / F.greatest(n_lines, F.lit(1)), 6)
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast("long")
    alpha_ratio = F.round(n_alpha / F.greatest(n_words, F.lit(1)), 6)
    en_stops = F.array(*[F.lit(s) for s in _STOP["en"]])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(en_stops, w))).cast("long")
    out = tokked.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop.alias("n_stop"),
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_ratio") <= 0.9)
        & (F.col("ellipsis_ratio") <= 0.3)
        & (F.col("alpha_word_ratio") >= 0.8)
        & (F.col("n_stop") >= 2)
    )
    return out.withColumn("keep", keep)


def gopher_rules_sql(docs_sql: str = "documents") -> str:
    """DuckDB twin of ``gopher_rules`` — shared regexes/thresholds/rounding."""
    return f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '{WORD_RE.replace("'", "''")}') AS toks,
         string_split(text, chr(10)) AS lines
  FROM {docs_sql}
), f AS (
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_words,
  round(CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
        / greatest(len(toks), 1), 6) AS mean_word_len,
  round((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
         + (length(text) - length(replace(text, '...', ''))) / 3.0)
        / greatest(len(toks), 1), 6) AS symbol_ratio,
  round(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*]'))) AS DOUBLE)
        / greatest(len(lines), 1), 6) AS bullet_ratio,
  round(CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) AS DOUBLE)
        / greatest(len(lines), 1), 6) AS ellipsis_ratio,
  round(CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        / greatest(len(toks), 1), 6) AS alpha_word_ratio,
  CAST(len(list_filter(toks, w -> list_contains({_STOP['en']!r}, w))) AS BIGINT) AS n_stop
FROM t)
SELECT *,
  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
   AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3
   AND alpha_word_ratio >= 0.8 AND n_stop >= 2) AS keep
FROM f ORDER BY doc_id
""".strip()


def bm25_topk(docs: DataFrame, query: list[str], top: int = 20,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 ranked retrieval (Robertson et al., TREC-3) for one query over
    the corpus — the classic relevance scorer a web-scale pipeline uses for
    quality-aware selection and search evaluation.

        idf(t)      = ln(1 + (N − df + 0.5)/(df + 0.5))
        score(d)    = Σ_t idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    All statistics (tf, df, dl, N, avgdl·N = Σdl) are exact integers; the
    float math is a fixed expression over them, rounded to 6dp (same ln
    portability contract as tfidf_top_terms). Corpus size and total token
    count ride the plan as a broadcast 1-row aggregate — no driver action.
    Shuffles: one token-explode groupBy(doc_id, term) bounded by the QUERY
    terms only (non-query tokens are filtered before the shuffle), plus the
    tiny df aggregate. Output ``(doc_id, score)``, top rows by
    (score desc, doc_id asc).
    """
    qarr = F.array(*[F.lit(t) for t in query])
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0).alias("__toks"),
    )
    dl = toks.select("doc_id", F.size("__toks").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("dl").cast("double").alias("__sumdl"),
    )
    qtoks = toks.select(
        "doc_id",
        F.explode(
            F.filter(F.col("__toks"), lambda w: F.array_contains(qarr, w))
        ).alias("term"),
    )
    tf = qtoks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n, sumdl = F.col("__n"), F.col("__sumdl")
    idf = F.log(F.lit(1.0) + (n - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") * n / sumdl
    )
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / denom
    scored = (
        tf.join(df_, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(top)


def bm25_topk_sql(query: list[str], top: int = 20, k1: float = 1.2,
                  b: float = 0.75, docs_sql: str = "documents") -> str:
    """DuckDB twin of ``bm25_topk`` — identical statistics and float text."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    qlist = "[" + ", ".join(f"'{t}'" for t in query) + "]"
    return f"""
WITH tk AS MATERIALIZED (
  SELECT doc_id, {toks} AS toks FROM {docs_sql}
), dl AS MATERIALIZED (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl FROM dl
), tf AS MATERIALIZED (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest(list_filter(toks, w -> list_contains({qlist}, w))) AS term
    FROM tk) GROUP BY doc_id, term
), dfq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
)
SELECT doc_id, round(sum(
    ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
    * tf.tf * {k1 + 1.0}
    / (tf.tf + {k1} * ({1.0 - b} + {b} * dl.dl * s.n / s.sumdl))
  ), 6) AS score
FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT {top}
""".strip()


# ---------------------------------------------------------------------------
# Vocabulary build + collocation mining (tokenizer-prep operators)
# ---------------------------------------------------------------------------

def build_vocab(docs: DataFrame, min_count: int = 1) -> DataFrame:
    """Frequency-ranked vocabulary: ``(term, n, vocab_id)`` with ``vocab_id``
    the dense 0-based rank by (count desc, term asc) — the id assignment
    every tokenizer/embedding-table build starts from.

    Scale: one explode + one map-side-combined count groupBy, then the
    distributed counting-sort rank (``scalable_dense_rank`` — range-
    partitioned sort + per-partition Arrow offsets, no single-task window).
    The total order (n desc, term asc) is unique, so ids are deterministic.
    """
    from trianglecounting_spark.operators.normalize import scalable_dense_rank

    terms = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("term")
    )
    counts = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") >= min_count)
    )
    return scalable_dense_rank(
        counts, [F.col("n").desc(), F.col("term").asc()], ["term", "n"],
        out_col="vocab_id",
    ).select("term", "n", F.col("vocab_id").cast("long"))


def build_vocab_sql(min_count: int = 1, docs_rel: str = "documents") -> str:
    """DuckDB twin of :func:`build_vocab`."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    return (
        f"WITH terms AS (SELECT unnest({toks}) AS term FROM {docs_rel}), "
        f"c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM terms "
        f"GROUP BY term HAVING count(*) >= {min_count}) "
        f"SELECT term, n, CAST(row_number() OVER "
        f"(ORDER BY n DESC, term ASC) - 1 AS BIGINT) AS vocab_id FROM c"
    )


def collocations_pmi(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Adjacent-bigram collocations scored by pointwise mutual information:
    ``(w1, w2, n_pair, pmi)`` for bigrams occurring ≥ ``min_count`` times.

    PMI = ln( (n_pair/N_bigrams) / ((n_w1/N_tokens)·(n_w2/N_tokens)) ) — the
    classic collocation statistic (Church & Hanks 1990); rounded to 6dp.
    The ratio is computed with an explicitly-parenthesized double expression
    mirrored verbatim in the oracle, so both engines evaluate the identical
    IEEE operation sequence (integer-product forms can exceed 2⁵³ on big
    corpora — doubles with fixed association are the portable choice).

    Scale: bigram extraction is a narrow zip of the token array with its
    own tail (no shuffle); then two map-side-combined counts. Both count
    tables key on Zipf-skewed terms — counts only, never row pileups. The
    two scalar totals ride one tiny aggregate each.
    """
    tokked = docs.select(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0).alias("__toks")
    )
    n = F.size("__toks")
    bigrams = tokked.select(
        F.explode(
            F.when(
                n >= 2,
                F.arrays_zip(
                    F.slice(F.col("__toks"), 1, n - 1).alias("w1"),
                    F.slice(F.col("__toks"), 2, n - 1).alias("w2"),
                ),
            ).otherwise(F.array())
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    unigrams = tokked.select(F.explode("__toks").alias("w"))
    pair_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    )
    uni_counts = unigrams.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_w")
    )
    totals = pair_counts.agg(F.sum("n_pair").alias("nb")).crossJoin(
        uni_counts.agg(F.sum("n_w").alias("nt"))
    )
    scored = (
        pair_counts.where(F.col("n_pair") >= min_count)
        .crossJoin(F.broadcast(totals))
        .join(
            F.broadcast(uni_counts.select(F.col("w").alias("w1"),
                                          F.col("n_w").alias("n1"))),
            "w1",
        )
        .join(
            F.broadcast(uni_counts.select(F.col("w").alias("w2"),
                                          F.col("n_w").alias("n2"))),
            "w2",
        )
    )
    # fixed association, mirrored in the SQL twin char-for-char:
    # ((n_pair * nt) * nt) / ((nb * n1) * n2), all as doubles
    num = (F.col("n_pair").cast("double") * F.col("nt").cast("double")) \
        * F.col("nt").cast("double")
    den = (F.col("nb").cast("double") * F.col("n1").cast("double")) \
        * F.col("n2").cast("double")
    return scored.select(
        "w1", "w2", "n_pair", F.round(F.log(num / den), 6).alias("pmi")
    )


def collocations_pmi_sql(min_count: int = 5, docs_rel: str = "documents") -> str:
    """DuckDB twin of :func:`collocations_pmi` (identical double
    association)."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    return (
        f"WITH tk AS MATERIALIZED (SELECT {toks} AS t FROM {docs_rel}), "
        f"bg AS MATERIALIZED (SELECT t[pos] AS w1, t[pos + 1] AS w2 FROM tk, "
        f"unnest(generate_series(1, len(t) - 1)) AS s(pos)), "
        f"uni AS MATERIALIZED (SELECT unnest(t) AS w FROM tk), "
        f"pc AS MATERIALIZED (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair "
        f"FROM bg GROUP BY w1, w2), "
        f"uc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n_w "
        f"FROM uni GROUP BY w), "
        f"tot AS (SELECT (SELECT sum(n_pair) FROM pc) AS nb, "
        f"(SELECT sum(n_w) FROM uc) AS nt) "
        f"SELECT p.w1, p.w2, p.n_pair, "
        f"round(ln(((CAST(p.n_pair AS DOUBLE) * CAST(t.nt AS DOUBLE)) * "
        f"CAST(t.nt AS DOUBLE)) / ((CAST(t.nb AS DOUBLE) * "
        f"CAST(u1.n_w AS DOUBLE)) * CAST(u2.n_w AS DOUBLE))), 6) AS pmi "
        f"FROM pc p, tot t "
        f"JOIN uc u1 ON u1.w = p.w1 JOIN uc u2 ON u2.w = p.w2 "
        f"WHERE p.n_pair >= {min_count}"
    )


def zipf_alpha(docs: DataFrame, fmin: int = 5) -> DataFrame:
    """Zipf/power-law exponent of the TERM-FREQUENCY distribution — the
    corpus-shape twin of ``normalize.powerlaw_alpha`` (degree tail): the
    continuous-approximation Clauset-Shalizi-Newman MLE over term counts,

        alpha = 1 + n_tail / Sum_{f(term) >= fmin} ln(f / (fmin - 1/2)),

    the "is this corpus natural-language-shaped?" report (natural text has
    alpha ~= 2 for the frequency distribution, Zipf 1949). Output one row
    ``(fmin, n_tail, alpha)``, alpha at 6dp (NULL on an empty tail).

    Determinism: like powerlaw_alpha, the ln-sum folds the exact integer
    frequency-of-frequencies histogram in ascending-frequency order inside
    one array expression — a fixed IEEE sequence mirrored in the oracle, no
    distributed float aggregate. The histogram is at most max-term-count
    rows (tiny vs the corpus), so the single-task fold is safe at any scale;
    everything upstream is explode + two map-side-combined integer counts.
    """
    terms = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("term")
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("f"))
    hist = (
        counts.where(F.col("f") >= fmin)
        .groupBy("f")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    folded = hist.agg(
        F.sum("cnt").cast("long").alias("n_tail"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("f", "cnt"))),
            F.lit(0.0),
            lambda acc, s: acc
            + s.cnt.cast("double")
            * F.log(s.f.cast("double") / F.lit(fmin - 0.5)),
        ).alias("s_ln"),
    )
    return folded.select(
        F.lit(fmin).cast("long").alias("fmin"),
        F.coalesce(F.col("n_tail"), F.lit(0)).cast("long").alias("n_tail"),
        F.round(
            F.lit(1.0) + F.col("n_tail").cast("double") / F.col("s_ln"), 6
        ).alias("alpha"),
    )


def zipf_alpha_sql(fmin: int = 5, docs_rel: str = "documents") -> str:
    """DuckDB twin of :func:`zipf_alpha` — identical ascending-frequency
    ordered fold (list_sum folds in list order)."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    return (
        f"WITH terms AS (SELECT unnest({toks}) AS term FROM {docs_rel}), "
        "c AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM terms GROUP BY term), "
        f"hist AS (SELECT f, CAST(count(*) AS BIGINT) AS cnt FROM c "
        f"WHERE f >= {fmin} GROUP BY f), "
        "fold AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_tail, "
        "list_sum(list_transform(list_sort(list(struct_pack(f := f, c := cnt))), "
        f"s -> CAST(s.c AS DOUBLE) * ln(CAST(s.f AS DOUBLE) / {fmin - 0.5}))) "
        "AS s_ln FROM hist) "
        f"SELECT CAST({fmin} AS BIGINT) AS fmin, n_tail, "
        "round(1.0 + CAST(n_tail AS DOUBLE) / s_ln, 6) AS alpha FROM fold"
    )


def readability(docs: DataFrame) -> DataFrame:
    """Flesch Reading Ease per document with a deterministic regex syllable
    heuristic — the classic "is this readable prose?" pre-training filter
    (Flesch 1948):

        FRE = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)

    Words = WORD_RE tokens; sentences = runs of ``[.!?]`` (floor 1);
    syllables = vowel-group runs ``[aeiouy]+`` in the lowercased text (the
    standard cheap approximation — exact syllabification needs a dictionary).
    All three counts are exact integers from one regexp pass each; the score
    is ONE fixed double expression mirrored in the oracle, rounded 6dp
    (NULL for word-less documents). Output
    ``(doc_id, n_words, n_sentences, n_syllables, flesch)``.

    Scale: a pure narrow projection — no shuffle, no UDF, whole-stage
    codegen'd except the regexp calls themselves.
    """
    lower = F.lower(F.col("text"))
    n_words = F.size(F.regexp_extract_all(lower, F.lit(WORD_RE), 0)).cast("long")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
        F.lit(1),
    ).cast("long")
    n_syl = F.size(F.regexp_extract_all(lower, F.lit("[aeiouy]+"), 0)).cast("long")
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    )
    w = F.col("n_words").cast("double")
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.lit(206.835)
                - F.lit(1.015) * (w / F.col("n_sentences").cast("double"))
                - F.lit(84.6) * (F.col("n_syllables").cast("double") / w),
                6,
            ),
        ).alias("flesch"),
    )


def readability_sql(docs_rel: str = "documents") -> str:
    """DuckDB twin of :func:`readability` — identical regexes and the same
    parenthesized double expression."""
    return (
        f"WITH b AS (SELECT doc_id, "
        f"CAST(len(regexp_extract_all(lower(text), '[A-Za-z0-9'']+')) AS BIGINT) AS n_words, "
        f"CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences, "
        f"CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables "
        f"FROM {docs_rel}) "
        "SELECT doc_id, n_words, n_sentences, n_syllables, "
        "CASE WHEN n_words > 0 THEN round(206.835 "
        "- 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) "
        "- 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6) "
        "END AS flesch FROM b"
    )


def heaps_beta(docs: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary-growth exponent: V(N) = K·N^β (natural text has
    β ≈ 0.4–0.6; near-duplicated / templated corpora show depressed β — a
    corpus-health check next to ``zipf_alpha``). Estimated from two
    deterministic measurement points — the even-doc_id half and the full
    corpus:

        beta = ln(V_full / V_half) / ln(N_full / N_half)

    Output one row ``(n_half, v_half, n_full, v_full, beta)``; counts are
    exact integers (token totals N and distinct-term vocabularies V), beta
    one fixed double expression at 6dp (NULL when the ratio is degenerate:
    empty half or no token growth). Deterministic by construction — the
    "half" is a doc_id-parity predicate, not a sample.

    Scale: one explode over the corpus feeding two map-side-combined
    aggregates (conditional sums + two count_distincts); no extra pass for
    the half.
    """
    terms = docs.select(
        (F.col("doc_id") % 2 == 0).alias("in_half"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("term"),
    )
    agg = terms.agg(
        F.sum(F.col("in_half").cast("long")).alias("n_half"),
        F.count(F.lit(1)).cast("long").alias("n_full"),
        F.count_distinct(F.when(F.col("in_half"), F.col("term"))).alias("v_half"),
        F.count_distinct("term").alias("v_full"),
    )
    ok = (
        (F.col("n_half") > 0)
        & (F.col("n_full") > F.col("n_half"))
        & (F.col("v_half") > 0)
        & (F.col("v_full") > F.col("v_half"))
    )
    return agg.select(
        F.coalesce("n_half", F.lit(0)).cast("long").alias("n_half"),
        F.col("v_half").cast("long").alias("v_half"),
        F.col("n_full").cast("long").alias("n_full"),
        F.col("v_full").cast("long").alias("v_full"),
        F.when(
            ok,
            F.round(
                F.log(F.col("v_full").cast("double") / F.col("v_half").cast("double"))
                / F.log(F.col("n_full").cast("double") / F.col("n_half").cast("double")),
                6,
            ),
        ).alias("beta"),
    )


def heaps_beta_sql(docs_rel: str = "documents") -> str:
    """DuckDB twin of :func:`heaps_beta` — identical parity split and the
    same parenthesized double expression."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    return (
        f"WITH terms AS (SELECT (doc_id % 2 = 0) AS in_half, "
        f"unnest({toks}) AS term FROM {docs_rel}), "
        "a AS (SELECT CAST(coalesce(sum(CASE WHEN in_half THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_half, "
        "CAST(count(*) AS BIGINT) AS n_full, "
        "CAST(count(DISTINCT CASE WHEN in_half THEN term END) AS BIGINT) AS v_half, "
        "CAST(count(DISTINCT term) AS BIGINT) AS v_full FROM terms) "
        "SELECT n_half, v_half, n_full, v_full, "
        "CASE WHEN n_half > 0 AND n_full > n_half AND v_half > 0 AND v_full > v_half "
        "THEN round(ln(CAST(v_full AS DOUBLE) / CAST(v_half AS DOUBLE)) "
        "/ ln(CAST(n_full AS DOUBLE) / CAST(n_half AS DOUBLE)), 6) END AS beta "
        "FROM a"
    )


def decontaminate(docs: DataFrame, eval_docs: DataFrame, n: int = 8) -> DataFrame:
    """Benchmark DECONTAMINATION — the GPT-3/PaLM-style pipeline stage: flag
    every training document sharing any word-``n``-gram with the held-out
    evaluation set, so eval answers cannot leak into training data. Output
    one row per training document: ``(doc_id, n_hits, contaminated)`` with
    ``n_hits`` = number of DISTINCT eval n-grams the doc contains.

    Plan: distinct eval n-grams (the eval set is tiny relative to the
    corpus — at 100 TB Spark broadcast-joins it automatically under the
    10 MB default, or hint ``broadcast()`` for bigger benchmarks) joined
    against per-doc DISTINCT training n-grams (``array_distinct`` before
    the explode bounds the join input at one row per distinct gram), then
    a map-side-combined count. Integer counts only — no float anywhere.
    """
    eval_grams = (
        eval_docs.select(F.explode(_word_ngrams(n)).alias("gram")).distinct()
    )
    doc_grams = docs.select(
        "doc_id", F.explode(F.array_distinct(_word_ngrams(n))).alias("gram")
    )
    hits = (
        doc_grams.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_sql(n: int = 8, eval_pred: str = "doc_id % 97 = 0",
                      docs_rel: str = "documents") -> str:
    """DuckDB twin of :func:`decontaminate` with the eval set selected by
    ``eval_pred`` and the training set its complement."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n} + 1, 0)), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))"
    )
    return (
        f"WITH ev AS (SELECT DISTINCT unnest({grams}) AS gram FROM {docs_rel} "
        f"WHERE {eval_pred}), "
        f"tr AS (SELECT doc_id, unnest(list_distinct({grams})) AS gram "
        f"FROM {docs_rel} WHERE NOT ({eval_pred})), "
        "h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits "
        "FROM tr JOIN ev USING (gram) GROUP BY doc_id) "
        f"SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, "
        "coalesce(h.n_hits, 0) > 0 AS contaminated "
        f"FROM (SELECT doc_id FROM {docs_rel} WHERE NOT ({eval_pred})) d "
        "LEFT JOIN h ON h.doc_id = d.doc_id"
    )


def encode_docs(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Tokenizer APPLICATION — encode every document as (position, id)
    pairs against a frequency-ranked vocabulary (``build_vocab``): the
    bridge from cleaned corpus to training-ready token ids. Output one row
    per token occurrence: ``(doc_id, pos, vocab_id)`` with 0-based ``pos``
    and ``vocab_id = -1`` for out-of-vocabulary tokens (below the vocab's
    min_count), mirroring the UNK id convention.

    Scale: the vocab is a classic broadcast dimension (even a 1 M-term
    vocab is a few tens of MB — hinted explicitly so the Zipf-skewed term
    join never shuffles the exploded corpus by hot words like "the"); the
    explode itself is narrow. Integer output only.
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("pos", "term"),
    )
    return (
        toks.join(F.broadcast(vocab.select("term", "vocab_id")), "term", "left")
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.coalesce("vocab_id", F.lit(-1)).cast("long").alias("vocab_id"),
        )
    )


def encode_docs_sql(min_count: int = 2, docs_rel: str = "documents") -> str:
    """DuckDB twin of :func:`encode_docs` against
    ``build_vocab_sql(min_count)``'s vocabulary."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    return (
        f"WITH enc_t AS (SELECT doc_id, {toks} AS toks FROM {docs_rel}), "
        "enc_p AS (SELECT doc_id, unnest(list_transform("
        "generate_series(1, len(toks)), "
        "i -> struct_pack(pos := i - 1, term := toks[i])), recursive := true) "
        "FROM enc_t), "
        f"enc_v AS ({build_vocab_sql(min_count, docs_rel)}) "
        "SELECT enc_p.doc_id, CAST(enc_p.pos AS BIGINT) AS pos, "
        "CAST(coalesce(enc_v.vocab_id, -1) AS BIGINT) AS vocab_id "
        "FROM enc_p LEFT JOIN enc_v ON enc_v.term = enc_p.term"
    )


def token_count_quantiles(
    docs: DataFrame, qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99)
) -> DataFrame:
    """EXACT length-distribution quantiles of the corpus — the report a
    length-filter threshold is chosen from. Discrete (type-1) quantile:
    the token count at 1-based position ceil(q·n) in (n_tokens, doc_id)
    order. Output one row per q: ``(q, pos, n_tokens)``.

    Approximate-percentile sketches differ across engines, so this is the
    exact distributed form: a ``scalable_dense_rank`` global row numbering
    (range-partitioned counting sort — NO single-task window over the
    corpus, the trap ``approx_percentile`` avoidance usually falls into)
    followed by a broadcast semi-join against |qs| target positions.
    Integers end-to-end.
    """
    from trianglecounting_spark.operators.normalize import scalable_dense_rank

    tc = token_count(docs)
    ranked = scalable_dense_rank(
        tc,
        [F.col("n_tokens").asc(), F.col("doc_id").asc()],
        ["doc_id", "n_tokens"],
        out_col="rn",
    )
    n = tc.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    targets = (
        docs.sparkSession.createDataFrame([(q,) for q in qs], "q double")
        .crossJoin(n)
        .select("q", (F.ceil(F.col("q") * F.col("__n")) - 1).cast("long").alias("rn"))
    )
    return (
        targets.join(ranked, "rn")
        .select("q", (F.col("rn") + 1).alias("pos"), "n_tokens")
    )


def token_count_quantiles_sql(
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    docs_rel: str = "documents",
) -> str:
    """DuckDB twin of :func:`token_count_quantiles` — same type-1 discrete
    quantile via row_number."""
    qlist = ", ".join(f"({q})" for q in qs)
    return (
        f"WITH tc AS (SELECT doc_id, CAST(len(regexp_extract_all(text, "
        f"'[A-Za-z0-9'']+')) AS BIGINT) AS n_tokens FROM {docs_rel}), "
        "r AS (SELECT n_tokens, row_number() OVER (ORDER BY n_tokens, doc_id) AS pos, "
        "count(*) OVER () AS n FROM tc), "
        f"qsv(q) AS (VALUES {qlist}) "
        "SELECT CAST(qsv.q AS DOUBLE) AS q, CAST(r.pos AS BIGINT) AS pos, r.n_tokens "
        "FROM qsv JOIN r ON r.pos = CAST(ceil(qsv.q * r.n) AS BIGINT)"
    )


def unigram_doc_nll(docs: DataFrame) -> DataFrame:
    """Per-doc mean unigram negative log-likelihood — the scoring stage of
    :func:`unigram_lm_score`, exposed separately so its physical plan (the
    broadcast vocab join) is directly auditable:

        p(w)    = cnt(w) / total_tokens            (corpus-wide, exact ints)
        nll(d)  = Σ_t tf_t·(ln total − ln cnt_t) / Σ_t tf_t

    Output ``(doc_id, nll: double 6dp)`` for every doc; empty docs 0.0.
    """
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    vocab_cnt = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cnt"))
    total = vocab_cnt.agg(F.sum("cnt").cast("double").alias("__total"))
    # broadcast the count table: a shuffled term join would repartition tf
    # by Zipf-skewed words (same hot-key pileup encode_docs avoids). Beyond
    # a broadcastable vocab (~10^8 raw terms) swap to the salted join in
    # operators/skew.py — the estimator is unchanged.
    doc_nll = (
        tf.join(F.broadcast(vocab_cnt), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("tf")
                    * (F.log(F.col("__total")) - F.log(F.col("cnt").cast("double")))
                )
                / F.sum("tf"),
                6,
            ).alias("nll")
        )
    )
    return docs.select("doc_id").join(doc_nll, "doc_id", "left").select(
        "doc_id", F.coalesce("nll", F.lit(0.0)).alias("nll")
    )


def unigram_lm_score(docs: DataFrame) -> DataFrame:
    """CCNet-style language-model quality scoring + head/middle/tail buckets
    (Wenzek et al., LREC 2020 — the corpus-curation step that orders a crawl
    by LM fit and keeps the "head"). The container has no KenLM, so the LM
    is the corpus's own unigram model (:func:`unigram_doc_nll`) — the same
    scoring contract with an oracle-expressible estimator; bucket =
    head | middle | tail by EXACT terciles of (nll, doc_id).

    Lower nll = more typical text. Scale shape: one token-explode
    groupBy(doc_id, term) (the tf table), a BROADCAST join against the
    |vocab|-row count table (a shuffled term join would repartition tf by
    Zipf-skewed words — the hot-key pileup encode_docs also avoids; beyond
    a broadcastable vocab swap to operators/skew.py's salted join), the
    corpus total riding as a broadcast 1-row aggregate, then the tercile
    ranking via `scalable_dense_rank` — the range-partitioned counting
    sort, NO single-task window over the corpus. Ranking uses the ROUNDED
    6dp nll (ties broken by doc_id) so both engines rank identical keys.

    Output: ``(doc_id, nll: double 6dp, bucket: string)`` for every doc;
    empty docs score 0.0 (they sort to the head and a length filter owns
    them, not the LM).
    """
    from trianglecounting_spark.operators.normalize import scalable_dense_rank

    scored = unigram_doc_nll(docs)
    ranked = scalable_dense_rank(
        scored, [F.col("nll").asc(), F.col("doc_id").asc()], ["doc_id", "nll"],
        out_col="__rn",
    )
    n = scored.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    pos = F.col("__rn") + 1
    bucket = (
        F.when(pos <= F.ceil(F.col("__n") / 3), F.lit("head"))
        .when(pos <= F.ceil(F.lit(2) * F.col("__n") / 3), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id", "nll", bucket.alias("bucket")
    )


def unigram_lm_score_sql(docs_rel: str = "documents") -> str:
    """DuckDB twin of :func:`unigram_lm_score` — identical estimator, float
    expression text, rounding, and tercile rule."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    return (
        f"WITH tf AS MATERIALIZED (SELECT doc_id, term, "
        f"CAST(count(*) AS BIGINT) AS tf FROM "
        f"(SELECT doc_id, unnest({toks}) AS term FROM {docs_rel}) "
        f"GROUP BY doc_id, term), "
        "vc AS MATERIALIZED (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt "
        "FROM tf GROUP BY term), "
        "tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vc), "
        "dn AS (SELECT doc_id, round(sum(tf * (ln((SELECT total FROM tot)) "
        "- ln(CAST(cnt AS DOUBLE)))) / sum(tf), 6) AS nll "
        "FROM tf JOIN vc USING (term) GROUP BY doc_id), "
        f"sc AS (SELECT d.doc_id, coalesce(dn.nll, 0.0) AS nll "
        f"FROM {docs_rel} d LEFT JOIN dn ON dn.doc_id = d.doc_id), "
        "rk AS (SELECT doc_id, nll, "
        "row_number() OVER (ORDER BY nll, doc_id) AS pos, "
        "count(*) OVER () AS n FROM sc) "
        "SELECT doc_id, nll, CASE WHEN pos <= ceil(n / 3.0) THEN 'head' "
        "WHEN pos <= ceil(2 * n / 3.0) THEN 'middle' ELSE 'tail' END AS bucket "
        "FROM rk ORDER BY doc_id"
    )


# ---------------------------------------------------------------------------
# BPE merge training (tokenizer TRAINING — complements encode_docs, which
# APPLIES a vocabulary). Sennrich et al. 2016.
# ---------------------------------------------------------------------------

_BPE_SEP = "\x1f"  # symbol separator inside a word's state string; never in text


def bpe_train(docs: DataFrame, n_merges: int = 8, min_word_count: int = 1) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus — the
    tokenizer-TRAINING step (Sennrich, Haddow & Birch, ACL 2016) that
    ``build_vocab``/``encode_docs`` (tokenizer application) presuppose.

    Classic byte/char-pair encoding over the word-frequency table: each word
    starts as its character sequence plus a ``</w>`` end marker; each round
    counts adjacent symbol pairs weighted by word frequency, merges the
    globally most frequent pair (ties broken (count desc, left asc, right
    asc) — a unique total order, so training is deterministic), and rewrites
    every word greedily left-to-right.

    Output, one row per learned merge::

        (merge_rank, left_sym, right_sym, pair_count)   -- all-int64 count

    The greedy left-to-right rewrite is expressed as a LEFT FOLD over the
    symbol list in BOTH engines — Spark ``F.aggregate`` and the DuckDB
    oracle's ``list_reduce`` (:func:`bpe_train_sql`) run the same
    accumulator ("if the state string's last symbol is *left* and the next
    is *right*, extend in place; else append"), so the two implementations
    agree symbol-for-symbol, including the overlapping-pair case
    (``a a a a a`` → ``aa aa a``) that a naive string ``replace`` gets wrong.

    Scale: training runs on the DISTINCT-WORD table (Heaps' law: ~10⁷ rows
    for a 10¹² -token corpus — tiny next to the corpus itself), built with
    one explode + one map-side-combined count. Each round is (a) a narrow
    pair-explode + combinable count over that table, (b) a 1-row top-1
    collect (TakeOrdered — no global sort materialized), (c) a narrow fold
    rewrite, checkpointed per round so round k's plan never replays rounds
    1..k-1. Driver memory holds ``n_merges`` rows. The state strings shrink
    monotonically. No floats anywhere.

    No counterpart in /root/reference; the tokenizer-training member of the
    LLM-training-data family.
    """
    from trianglecounting_spark.plans.cache import IterationScope

    spark = docs.sparkSession
    sep = F.lit(_BPE_SEP)
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") >= int(min_word_count))
    )
    state = words.select(
        "n",
        F.concat(
            F.concat_ws(_BPE_SEP, F.split(F.col("word"), "")),
            sep,
            F.lit("</w>"),
        ).alias("syms"),
    )
    rows: list[tuple[int, str, str, int]] = []
    with IterationScope(spark) as it:
        state = it.keep(state)
        for k in range(1, int(n_merges) + 1):
            toks = F.split("syms", _BPE_SEP)
            sz = F.size(toks)
            pairs = state.select(
                "n",
                F.explode(
                    F.arrays_zip(
                        F.slice(toks, 1, sz - 1).alias("l"),
                        F.slice(toks, 2, sz - 1).alias("r"),
                    )
                ).alias("p"),
            )
            top = (
                pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
            rows.append((k, l, r, cnt))
            lft, rgt = F.lit(l), F.lit(r)
            folded = F.aggregate(
                F.slice(toks, 2, sz - 1),
                F.element_at(toks, 1),
                lambda acc, x: F.when(
                    ((acc == lft) | acc.endswith(F.concat(sep, lft))) & (x == rgt),
                    F.concat(acc, x),
                ).otherwise(F.concat(acc, sep, x)),
            )
            new_state = it.keep(state.select("n", folded.alias("syms")))
            it.release(state)
            state = new_state
    return spark.createDataFrame(
        rows, "merge_rank long, left_sym string, right_sym string, pair_count long"
    )


def bpe_train_sql(n_merges: int = 8, min_word_count: int = 1,
                  docs_rel: str = "documents") -> str:
    """DuckDB twin of :func:`bpe_train`: the identical training loop
    unrolled — per round, pair counts from ``list_zip(toks, toks[2:])``, the
    (count desc, left asc, right asc) argmax, and the greedy left-to-right
    rewrite as the SAME left fold via ``list_reduce``."""
    toks = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
    parts = [
        f"WITH bpe_words AS MATERIALIZED (SELECT word, "
        f"CAST(count(*) AS BIGINT) AS n FROM "
        f"(SELECT unnest({toks}) AS word FROM {docs_rel}) "
        f"GROUP BY word HAVING count(*) >= {int(min_word_count)})",
        "bpe_w0 AS MATERIALIZED (SELECT n, "
        "array_to_string(string_split(word, ''), chr(31)) || chr(31) || '</w>' "
        "AS syms FROM bpe_words)",
    ]
    for k in range(1, int(n_merges) + 1):
        parts.append(
            f"bpe_p{k} AS MATERIALIZED (SELECT u.p[1] AS l, u.p[2] AS r, "
            f"CAST(sum(n) AS BIGINT) AS cnt FROM "
            f"(SELECT n, string_split(syms, chr(31)) AS tk FROM bpe_w{k-1}) t, "
            f"unnest(list_zip(tk[1:length(tk)-1], tk[2:])) AS u(p) "
            f"GROUP BY 1, 2)"
        )
        parts.append(
            f"bpe_m{k} AS MATERIALIZED (SELECT CAST({k} AS BIGINT) AS merge_rank, "
            f"l, r, cnt FROM bpe_p{k} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"
        )
        parts.append(
            f"bpe_w{k} AS MATERIALIZED (SELECT t.n, "
            f"list_reduce(string_split(t.syms, chr(31)), "
            f"(acc, x) -> CASE WHEN (acc = m.l OR "
            f"ends_with(acc, chr(31) || m.l)) AND x = m.r "
            f"THEN acc || x ELSE acc || chr(31) || x END) AS syms "
            f"FROM bpe_w{k-1} t CROSS JOIN bpe_m{k} m)"
        )
    union = " UNION ALL ".join(
        f"SELECT merge_rank, l AS left_sym, r AS right_sym, cnt AS pair_count "
        f"FROM bpe_m{k}"
        for k in range(1, int(n_merges) + 1)
    )
    return ", ".join(parts) + f" SELECT * FROM ({union}) ORDER BY merge_rank"
