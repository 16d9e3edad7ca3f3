"""LLM-training-data text pipeline: exact dedup, token analysis,
quality stats, tf-idf, fingerprints, language-ID.

No reference analog (the Flink project has no text ops) — this is the
north-star extension pillar (SURVEY §2.10) over the ``documents``
table (doc_id, text, lang, source, n_chars).

Design rules for the 100 TB posture:
- everything is expression-level (split / explode / md5 / window
  functions) — whole-stage codegen, zero Python UDFs;
- dedup NEVER uses dropDuplicates(): which row survives is
  partition-order-dependent there. Survivor = min(id) per group, a
  deterministic associative aggregate that partial-aggregates map-side;
- fingerprints are md5 hex strings so Spark and the DuckDB oracle agree
  bit-for-bit (xxhash64 seeds differ between engines);
- float ranking (tf-idf) is rounded to 9 decimals before row_number so
  sub-ulp libm differences between JVM and C can't flip ranks, with a
  token-ascending tie-break after that.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_project_userbehavioranalysis_spark.io import load_events, load_table
from flink_project_userbehavioranalysis_spark.session import FrameOwner


def _tokens(df: DataFrame) -> DataFrame:
    """Explode whitespace tokens (documents.text is space-delimited)."""
    return df.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))


# --------------------------------------------------------------- exact dedup


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: one surviving row per distinct text, survivor =
    min(doc_id), with the duplicate-cluster size. Single hash shuffle on
    a fingerprint-sized key; at 100 TB group on md5(text) instead of the
    raw text to keep shuffle rows narrow (done here)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def dedup_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at interaction grain (user_id, event_type, item_id):
    survivor = min(event_id) + cluster size. Non-trivial at every sf
    (events repeat interactions heavily)."""
    events = load_events(spark, sf_dir)
    return (
        events.filter(F.col("item_id").isNotNull())
        .groupBy("user_id", "event_type", "item_id")
        .agg(F.min("event_id").alias("keep_event_id"), F.count("*").alias("n_copies"))
    )


# ------------------------------------------------------------- token analysis


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequencies — explode + count, the canonical
    two-phase (partial agg before shuffle) word count."""
    docs = load_table(spark, sf_dir, "documents")
    return _tokens(docs).groupBy("token").agg(F.count("*").alias("cnt"))


def doc_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals (all exact integers): token count,
    distinct-token count (lexical diversity), char count, stopword
    count, max token length. Downstream quality filters threshold these;
    keeping them integer makes the oracle hash exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars"),
        F.size(F.filter(toks, lambda t: t.isin("the", "a"))).alias("n_stopwords"),
        F.array_max(F.transform(toks, F.length)).alias("max_token_len"),
    )


def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (doc count, total chars, total tokens)
    — exact-integer sums so avg = sum/count is reproducible downstream."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", "n_chars", F.size(F.split("text", " ")).alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


def tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-distinctive term per document by tf-idf (tf × ln(N/df)).

    Emits exact integers (tf, df) for the winning term; the float score
    is rank-internal only, rounded to 9 decimals before row_number so
    JVM-vs-C libm ulp noise can't flip the order (tie-break token asc).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar constant into the plan (tiny, intentional)
    tf = _tokens(docs).groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_), "token").withColumn(
        "score", F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 9)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "token", "tf", "df")
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of the raw text plus md5 of the sorted
    token bag (order-insensitive near-key — catches shuffled-token
    duplicates that exact dedup misses)."""
    docs = load_table(spark, sf_dir, "documents")
    bag = F.array_join(F.sort_array(F.split("text", " ")), " ")
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        F.md5(bag.cast("binary")).alias("bag_md5"),
    )


def lang_id_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-chain language ID: CJK codepoints → zh, distinctive accents
    → fr/es/de, else stopword profile, else 'en'. Deterministic CASE
    expression (oracle-matchable); on the synthetic English-vocab corpus
    it predicts 'en' throughout — the labels are not recoverable from
    characters, which this output makes visible. A statistical token-
    profile classifier (naive Bayes) is exercised in tests Spark-side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pred = (
        F.when(F.col("text").rlike("[\\u4e00-\\u9fff]"), "zh")
        .when(F.col("text").rlike("[àâçéèêëîïôùûü]"), "fr")
        .when(F.col("text").rlike("[áéíñóúü¿¡]"), "es")
        .when(F.col("text").rlike("[äößü]"), "de")
        .when(F.size(F.filter(toks, lambda t: t.isin("the", "a"))) > 0, "en")
        .otherwise("und")
    )
    return docs.select("doc_id", pred.alias("predicted_lang"), F.col("lang").alias("label_lang"))


def lang_id_naive_bayes(
    spark: SparkSession, sf_dir: str, model_join: str = "broadcast"
) -> DataFrame:
    """Statistical language ID: add-one-smoothed multinomial NB over
    token unigrams, trained on the corpus's own (lang, token) counts.
    Spark-side only (float log-likelihood sums are not reproducible
    bit-for-bit across engines, so no oracle entry): explode → join of
    per-(lang, token) log-probs → per-(doc, lang) sum → argmax.

    ``model_join`` picks how the (lang, token) model meets the corpus:

    - ``"broadcast"`` (default): the model is broadcast — right when
      the vocabulary is bounded (this corpus; any tokenizer-capped
      pipeline), because the corpus side never shuffles.
    - ``"shuffle"``: plain equi-join on (cand_lang, token) — the
      open-vocabulary 100 TB form (r4 verdict #3): a web-scale unigram
      model grows with the corpus and cannot live on every executor, so
      both sides hash-partition on the join key instead. Same rows
      (tests assert), one extra exchange. Hinted SHUFFLE_HASH so AQE
      cannot demote it back to a broadcast on the small test corpus —
      the audit sees the plan the open-vocab deployment would run.
    """
    if model_join not in ("broadcast", "shuffle"):
        raise ValueError(f"model_join must be broadcast|shuffle, got {model_join!r}")
    wrap = F.broadcast if model_join == "broadcast" else (lambda df: df.hint("shuffle_hash"))
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(docs)
    lang_tok = toks.groupBy("lang", "token").agg(F.count("*").alias("c"))
    lang_tot = toks.groupBy("lang").agg(F.count("*").alias("tot"))
    vocab = toks.select("token").distinct().count()
    doc_tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    langs = docs.select("lang").distinct().withColumnRenamed("lang", "cand_lang")
    grid = doc_tf.crossJoin(F.broadcast(langs))
    scored = (
        grid.join(
            wrap(lang_tok.withColumnRenamed("lang", "cand_lang")),
            ["cand_lang", "token"],
            "left",
        )
        .join(F.broadcast(lang_tot.withColumnRenamed("lang", "cand_lang")), "cand_lang")
        .withColumn(
            "ll",
            F.col("tf")
            * F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("tot") + F.lit(vocab))),
        )
        .groupBy("doc_id", "cand_lang")
        .agg(F.sum("ll").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand_lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("predicted_lang"))
    )


def stratified_sample(
    spark: SparkSession, sf_dir: str, rates: dict[str, int] | None = None
) -> DataFrame:
    """Deterministic stratified sampling — the reproducible-subset
    operator every training-data pipeline needs (per-language mixture
    control, ablation slices, held-out carve-outs).

    NOT `sampleBy`/`rand()`: a training mix must be reproducible across
    runs, engines, and partitionings, so membership is a pure function
    of the row — bucket = first 4 hex digits of md5(doc_id) mod 1000,
    keep iff bucket < 10 × rate_pct[lang]. Embarrassingly parallel (no
    shuffle, no RNG state), and the buckets are nested: raising a rate
    strictly grows the kept set, so ablation subsets are supersets of
    each other. Default mix keeps en at 80%, fr/de/es at 40%, zh 20%.

    Output: (doc_id, lang, bucket) for kept rows — integers only.
    """
    rates = rates or {"en": 80, "fr": 40, "de": 40, "es": 40, "zh": 20}
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long")
        % 1000
    )
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in rates.items()],
        F.lit(0),
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"), rate.alias("rate_pct"))
        .filter(F.col("bucket") < F.col("rate_pct") * 10)
        .select("doc_id", "lang", "bucket")
    )


def stratified_sample_oracle_sql(rates: dict[str, int] | None = None) -> str:
    rates = rates or {"en": 80, "fr": 40, "de": 40, "es": 40, "zh": 20}
    case = " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in rates.items())
    # hex→int via digit positions (the strpos idiom the simhash oracle
    # already uses — avoids engine-specific hex-parsing builtins)
    digit = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    val = " + ".join(
        f"{digit.format(i=i + 1)} * {16 ** (3 - i)}" for i in range(4)
    )
    return f"""
WITH t AS (
    SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
), b AS (
    SELECT doc_id, lang, ({val}) % 1000 AS bucket,
           CASE {case} ELSE 0 END AS rate_pct
    FROM t
)
SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
FROM b WHERE bucket < rate_pct * 10
"""


def doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the classic
    repetition/boilerplate quality signal (near-zero entropy = one
    token repeated; high = diverse vocabulary). Expression-level:
    explode → (doc, token) tf → −Σ p·ln p over each doc's tokens,
    rounded to 6 dp so both engines' identical double arithmetic
    hashes identically. Two partial-aggregated shuffles, no Python.

    Output: (doc_id, n_tokens, entropy_r6).
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    tot = tf.groupBy("doc_id").agg(F.sum("tf").alias("n_tokens"))
    p = F.col("tf") / F.col("n_tokens")
    return (
        tf.join(tot, "doc_id")
        .groupBy("doc_id", "n_tokens")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy_r6"))
        .select("doc_id", "n_tokens", "entropy_r6")
    )


DOC_ENTROPY_SQL = """
WITH tf AS (
    SELECT doc_id, token, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY 1, 2
), tot AS (
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1
)
SELECT tf.doc_id, tot.n_tokens,
       round(-sum((CAST(tf.tf AS DOUBLE) / tot.n_tokens)
                  * ln(CAST(tf.tf AS DOUBLE) / tot.n_tokens)), 6) AS entropy_r6
FROM tf JOIN tot ON tf.doc_id = tot.doc_id
GROUP BY 1, 2
"""


def clean_corpus_pipeline(
    spark: SparkSession,
    sf_dir: str,
    min_tokens: int = 5,
    max_token_len: int = 25,
    min_distinct_ratio_pct: int = 20,
) -> DataFrame:
    """The composed training-data cleaning pipeline — the end-to-end
    job the individual §2.10 operators exist for, as ONE dataflow:

    1. exact dedup (survivor = min(doc_id) per distinct text —
       deterministic, partial-aggregated);
    2. quality gate (token count ≥ min_tokens, longest token ≤
       max_token_len, distinct-token ratio ≥ min_distinct_ratio_pct% —
       the integer thresholds real corpus filters use);
    3. language gate (rule-chain lang-ID says 'en');
    4. emit doc_id + content fingerprint + the quality integers.

    Everything is expression-level: the whole pipeline is one
    hash-shuffle (the dedup groupBy on md5) plus a narrow self-join to
    recover the surviving row's text — filters run before the shuffle
    where possible and all gates are codegen'd. At 100 TB this is
    scan → map-side partial agg → one exchange → gates → project.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", "text", F.md5(F.col("text").cast("binary")).alias("text_md5")
    )
    survivors = keyed.groupBy("text_md5").agg(F.min("doc_id").alias("doc_id"))
    deduped = survivors.join(keyed, ["text_md5", "doc_id"])
    toks = F.split("text", " ")
    en = (
        F.when(F.col("text").rlike("[\\u4e00-\\u9fff]"), "zh")
        .when(F.col("text").rlike("[àâçéèêëîïôùûü]"), "fr")
        .when(F.col("text").rlike("[áéíñóúü¿¡]"), "es")
        .when(F.col("text").rlike("[äößü]"), "de")
        .when(F.size(F.filter(toks, lambda t: t.isin("the", "a"))) > 0, "en")
        .otherwise("und")
    )
    gated = (
        deduped.withColumn("n_tokens", F.size(toks))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)))
        .withColumn("max_token_len", F.array_max(F.transform(toks, F.length)))
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("max_token_len") <= max_token_len)
            & (F.col("n_distinct_tokens") * 100 >= F.col("n_tokens") * min_distinct_ratio_pct)
            & (en == "en")
        )
    )
    return gated.select(
        "doc_id", "text_md5", "n_tokens", "n_distinct_tokens", "max_token_len"
    )


def clean_corpus_pipeline_oracle_sql(
    min_tokens: int = 5, max_token_len: int = 25, min_distinct_ratio_pct: int = 20
) -> str:
    return f"""
WITH survivors AS (
    SELECT md5(text) AS text_md5, min(doc_id) AS doc_id
    FROM documents GROUP BY 1
), deduped AS (
    SELECT s.doc_id, s.text_md5, d.text
    FROM survivors s JOIN documents d ON d.doc_id = s.doc_id
), gated AS (
    SELECT doc_id, text_md5,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           list_max(list_transform(string_split(text, ' '), t -> length(t))) AS max_token_len,
           CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                WHEN regexp_matches(text, '[àâçéèêëîïôùûü]') THEN 'fr'
                WHEN regexp_matches(text, '[áéíñóúü¿¡]') THEN 'es'
                WHEN regexp_matches(text, '[äößü]') THEN 'de'
                WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) > 0 THEN 'en'
                ELSE 'und' END AS pred_lang
    FROM deduped
)
SELECT doc_id, text_md5, n_tokens, n_distinct_tokens, max_token_len
FROM gated
WHERE n_tokens >= {min_tokens}
  AND max_token_len <= {max_token_len}
  AND n_distinct_tokens * 100 >= n_tokens * {min_distinct_ratio_pct}
  AND pred_lang = 'en'
"""


# ---------------------------------------------------------------- oracle SQL

DEDUP_EXACT_DOCS_SQL = """
SELECT md5(text) AS text_md5,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""

DEDUP_EXACT_EVENTS_SQL = """
SELECT user_id, event_type,
       TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS item_id,
       min(event_id) AS keep_event_id,
       count(*) AS n_copies
FROM events
WHERE TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
GROUP BY 1, 2, 3
"""

TOKEN_COUNTS_SQL = """
SELECT token, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY 1
"""

DOC_QUALITY_STATS_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       length(text) AS n_chars,
       len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS n_stopwords,
       list_max(list_transform(string_split(text, ' '), t -> length(t))) AS max_token_len
FROM documents
"""

LANG_STATS_SQL = """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
FROM documents
GROUP BY 1
"""

TFIDF_TOP_TERM_SQL = """
WITH tf AS (
    SELECT doc_id, token, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY 1, 2
), df AS (
    SELECT token, count(*) AS df FROM tf GROUP BY 1
), n AS (
    SELECT count(*) AS n_docs FROM documents
), scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS score
    FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, df
FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) = 1
"""

DOC_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(text) AS text_md5,
       md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bag_md5
FROM documents
"""

LANG_ID_RULES_SQL = r"""
SELECT doc_id,
       CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN regexp_matches(text, '[àâçéèêëîïôùûü]') THEN 'fr'
            WHEN regexp_matches(text, '[áéíñóúü¿¡]') THEN 'es'
            WHEN regexp_matches(text, '[äößü]') THEN 'de'
            WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) > 0 THEN 'en'
            ELSE 'und' END AS predicted_lang,
       lang AS label_lang
FROM documents
"""


# ------------------------------------------------------------- PII scrubbing


def pii_scrub_projection(events: DataFrame) -> DataFrame:
    """The scrub itself, on any (batch or streaming) normalized events
    frame — stateless per-row expressions, shared by ``pii_scrub`` and
    the streaming twin so both provably run identical logic."""
    runs = F.regexp_extract_all("props", F.lit(r"[0-9]+"), 0)
    return events.select(
        "event_id",
        F.regexp_replace("props", r"[0-9]+", "#").alias("scrubbed"),
        F.size(runs).alias("n_runs"),
        (
            F.length("props") - F.length(F.regexp_replace("props", r"[0-9]", ""))
        ).alias("n_digits"),
    )


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scrubbing of semi-structured payloads: mask every digit run
    in ``events.props`` (the id/phone-number shape PII scrubbers target)
    and report what was removed. Output per event: the masked payload,
    the number of masked runs, and the count of masked digit characters
    — the audit columns a redaction pipeline logs.

    Pure per-row regexp expressions (regexp_replace / regexp_extract_all
    / length deltas) inside whole-stage codegen: zero shuffle, scales as
    a map-only stage at any corpus size, and the masked output column
    keeps the scan's pushed projection narrow (event_id, props only).
    """
    return pii_scrub_projection(load_events(spark, sf_dir))


PII_SCRUB_SQL = r"""
SELECT event_id,
       regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS INTEGER) AS n_runs,
       CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS INTEGER)
           AS n_digits
FROM events
"""


# --------------------------------------------------------- vocab coverage


def vocab_coverage(spark: SparkSession, sf_dir: str, vocab_k: int = 20) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the corpus top-``vocab_k``
    token vocabulary (count desc, token asc tie-break — deterministic),
    then per doc count how many of its tokens are in-vocab. The
    out-of-vocab rate is the signal a tokenizer-training / data-mixing
    pipeline tracks per source.

    Two-pass dataflow with the right scale shape: pass 1 is a
    partial-aggregated global token count (ONE shuffle on token) topped
    with a single tiny limit; pass 2 re-streams the corpus map-side
    against the BROADCAST vocabulary (bounded by construction at
    vocab_k entries — the legitimate broadcast case) and aggregates per
    doc. The 100 TB corpus is never shuffled on anything wider than
    doc_id.

    Output: doc_id, n_tokens, n_in_vocab.
    """
    toks = _tokens(load_table(spark, sf_dir, "documents"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(vocab_k)
        .select("token")
    )
    return (
        toks.join(F.broadcast(vocab).withColumn("in_vocab", F.lit(1)), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.coalesce(F.sum("in_vocab"), F.lit(0)).cast("long").alias("n_in_vocab"),
        )
    )


def vocab_coverage_oracle_sql(vocab_k: int = 20) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
    SELECT token FROM toks GROUP BY 1
    ORDER BY count(*) DESC, token ASC LIMIT {vocab_k}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (token IN (SELECT token FROM vocab)) AS BIGINT) AS n_in_vocab
FROM toks GROUP BY 1
"""


# ------------------------------------------------- passage-level dedup scrub


def passage_scrub(
    spark: SparkSession, sf_dir: str, passage_len: int = 4, max_copies: int = 1
) -> DataFrame:
    """Cross-corpus passage-level dedup scrub (RefinedWeb/C4-style
    line-wise dedup, SURVEY §2.10): split every document into
    fixed-length token passages, count each passage's corpus-wide
    frequency, drop passages that appear more than ``max_copies``
    times anywhere in the corpus, and reassemble the surviving text in
    original order.

    Scale shape: the frequency pass is ONE partial-aggregated shuffle
    on md5(passage) (narrow 32-char key, never the raw passage text);
    the scrub is an equi-join on the same key followed by a doc_id
    shuffle for ordered reassembly. No all-pairs stage anywhere — at
    100 TB this is two shuffles plus a join, all AQE-coalescible.

    Output: (doc_id, clean_text, n_kept, n_removed).
    """
    docs = load_table(spark, sf_dir, "documents")
    # stage the token array through a projection so the passage lambda
    # slices a materialized array instead of re-splitting per element
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") > 0
    )
    n_pass = F.ceil(F.size("toks") / F.lit(float(passage_len))).cast("int")
    passages = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_pass - F.lit(1)),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * passage_len + 1, passage_len), " "
                ),
            )
        ).alias("p_idx", "passage"),
    ).withColumn("p_md5", F.md5(F.col("passage").cast("binary")))
    freq = passages.groupBy("p_md5").agg(F.count("*").alias("n_copies"))
    agged = (
        passages.join(freq, "p_md5")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("p_idx").alias("i"),
                        (F.col("n_copies") <= max_copies).alias("keep"),
                        F.col("passage").alias("p"),
                    )
                )
            ).alias("ps")
        )
    )
    kept = F.filter("ps", lambda x: x["keep"])
    return agged.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda x: x["p"]), " ").alias("clean_text"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size("ps") - F.size(kept)).cast("long").alias("n_removed"),
    )


def passage_scrub_oracle_sql(passage_len: int = 4, max_copies: int = 1) -> str:
    L, M = passage_len, max_copies
    return f"""
WITH arr AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pass AS (
    SELECT doc_id, i AS p_idx,
           array_to_string(t[(i*{L}+1):(i*{L}+{L})], ' ') AS passage
    FROM (SELECT doc_id, t,
                 unnest(range(0, CAST(ceil(len(t)/{L}.0) AS BIGINT))) AS i
          FROM arr WHERE len(t) > 0)
), cnt AS (
    SELECT passage, count(*) AS n_copies FROM pass GROUP BY 1
)
SELECT p.doc_id,
       coalesce(string_agg(p.passage, ' ' ORDER BY p.p_idx)
                FILTER (WHERE c.n_copies <= {M}), '') AS clean_text,
       count(*) FILTER (WHERE c.n_copies <= {M}) AS n_kept,
       count(*) FILTER (WHERE c.n_copies > {M}) AS n_removed
FROM pass p JOIN cnt c USING (passage)
GROUP BY p.doc_id
"""


# ----------------------------------------------- unigram LM surprisal filter


def unigram_surprisal(
    spark: SparkSession, sf_dir: str, model_join: str = "broadcast"
) -> DataFrame:
    """Per-document mean unigram negative log-likelihood — the
    CCNet/Gopher-style "perplexity filter" quality signal, with the LM
    trained on the corpus itself (SURVEY §2.10). Documents whose token
    mix is improbable under the corpus unigram distribution (high mean
    surprisal) are outliers/noise; near-duplicate boilerplate scores
    low. Distinct from doc_entropy: that measures WITHIN-doc token
    diversity, this measures CROSS-corpus typicality.

    Scale shape: the model is one partial-aggregated token count; the
    scoring pass re-streams the corpus against it. ``model_join=
    'broadcast'`` (default) fits bounded vocabularies; pass
    ``'shuffle'`` for open-vocab corpora — same rows, plain equi-join
    (the lang_id_naive_bayes pattern). Rounded to 6 dp so both
    engines' double sums hash identically.

    Output: (doc_id, n_tokens, avg_nll_r6).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    cnt = toks.groupBy("token").agg(F.count("*").alias("c"))
    total = cnt.agg(F.sum("c").alias("n"))
    model = cnt.crossJoin(F.broadcast(total))
    if model_join == "broadcast":
        model = F.broadcast(model)
    scored = toks.join(model, "token", "inner")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 6).alias("avg_nll_r6"),
    )


UNIGRAM_SURPRISAL_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), cnt AS (
    SELECT token, count(*) AS c FROM toks GROUP BY 1
), tot AS (
    SELECT sum(c) AS n FROM cnt
)
SELECT t.doc_id, count(*) AS n_tokens,
       round(avg(-ln(CAST(c.c AS DOUBLE) / tot.n)), 6) AS avg_nll_r6
FROM toks t JOIN cnt c USING (token) CROSS JOIN tot
GROUP BY t.doc_id
"""


def bigram_lm_score(
    spark: SparkSession, sf_dir: str, k: float = 0.5, model_join: str = "broadcast"
) -> DataFrame:
    """Per-document mean bigram negative log-likelihood under an add-k
    smoothed bigram LM trained on the corpus itself — the CCNet-style
    perplexity quality filter one order up from ``unigram_surprisal``
    (SURVEY §2.10). A bigram model penalizes scrambled/boilerplate
    word ORDER that a unigram model cannot see: two documents with
    identical token multisets but different sequencing score apart.

    P(w|v) = (c(v,w) + k) / (c(v·) + k·V), c(v·) summed from the
    bigram table itself (= occurrences of v as a prefix), V = corpus
    vocabulary size.

    Scale shape: bigram EXTRACTION is map-only — the token array is
    sliced and zipped in one codegen ``transform`` (no window, no
    per-doc shuffle; a lag() window would shuffle the whole corpus by
    doc_id first). The model is two stacked partial aggregations
    (bigram counts, then prefix counts from those — never a second
    corpus pass); V is a single-row broadcast. Scoring re-streams the
    corpus against the model: ``model_join='broadcast'`` for bounded
    vocabularies, ``'shuffle'`` for open-vocab (plain equi-join on the
    prefix pair, the lang_id_naive_bayes pattern). Rounded to 6 dp so
    both engines' double sums hash identically.

    Single-token and NULL-text documents have no bigrams and emit no
    row (same as the SQL oracle's inner join over an empty unnest).

    Output: (doc_id, n_bigrams, avg_nll_r6).
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    arr = docs.select("doc_id", F.split("text", " ").alias("a"))
    bg = arr.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(a, 1, size(a) - 1),"
                " (x, i) -> struct(x AS prev, a[i + 1] AS cur))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
    c2 = bg.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    vocab = arr.select(F.explode("a").alias("t")).agg(
        F.countDistinct("t").alias("v")
    )
    model = (
        c2.join(c1, "prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "prev",
            "cur",
            (
                -F.log(
                    (F.col("c2").cast("double") + F.lit(float(k)))
                    / (F.col("c1").cast("double") + F.lit(float(k)) * F.col("v"))
                )
            ).alias("nll"),
        )
    )
    if model_join == "broadcast":
        model = F.broadcast(model)
    return (
        bg.join(model, ["prev", "cur"], "inner")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("avg_nll_r6"),
        )
    )


def bigram_lm_score_oracle_sql(k: float = 0.5) -> str:
    return f"""
WITH arr AS (
    SELECT doc_id, string_split(text, ' ') AS a
    FROM documents WHERE text IS NOT NULL
), bg AS (
    SELECT doc_id, a[i] AS prev, a[i + 1] AS cur
    FROM arr, unnest(range(1, len(a))) AS t(i)
), c2 AS (
    SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY 1, 2
), c1 AS (
    SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
), v AS (
    SELECT count(DISTINCT t) AS v
    FROM (SELECT unnest(a) AS t FROM arr)
)
SELECT b.doc_id, count(*) AS n_bigrams,
       round(avg(-ln((CAST(c2.c2 AS DOUBLE) + {float(k)})
                     / (CAST(c1.c1 AS DOUBLE) + {float(k)} * v.v))), 6)
           AS avg_nll_r6
FROM bg b
JOIN c2 ON b.prev = c2.prev AND b.cur = c2.cur
JOIN c1 ON b.prev = c1.prev
CROSS JOIN v
GROUP BY 1
"""


# ----------------------------------------------------- text normalization


def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text normalization — the canonical first pass of a
    training-data pipeline (C4/RefinedWeb both normalize before any
    dedup so that trivially-different copies collapse): lowercase,
    collapse whitespace runs, trim, and strip characters outside the
    printable-ASCII + space class.

    Map-only, zero shuffle, pure codegen (`lower`/`regexp_replace`/
    `trim`) — at 100 TB this runs at scan speed and never widens a
    partition. The regex classes are engine-portable (plain character
    classes, no lookaround) so the DuckDB oracle matches byte-for-byte.

    Output: (doc_id, norm_text, changed, n_chars_norm) — `changed`
    flags rows the normalization actually touched (the audit signal:
    what fraction of the corpus was non-canonical).
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^ -~]", ""),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        (norm != F.col("text")).cast("int").alias("changed"),
        F.length(norm).alias("n_chars_norm"),
    )


NORMALIZE_TEXT_SQL = r"""
WITH n AS (
    SELECT doc_id, text,
           trim(regexp_replace(regexp_replace(lower(text), '[^ -~]', '', 'g'),
                               ' +', ' ', 'g')) AS norm_text
    FROM documents
)
SELECT doc_id, norm_text,
       CAST(norm_text <> text AS INT) AS changed,
       CAST(length(norm_text) AS BIGINT) AS n_chars_norm
FROM n
"""


# ------------------------------------------- token-budget mixture sampling


def source_mix_sample(
    spark: SparkSession, sf_dir: str, budgets: dict[str, int] | None = None
) -> DataFrame:
    """Token-budget mixture sampling — fill each source's token quota
    with a deterministic priority order (the "sample N tokens of web,
    M of code" step that turns a cleaned corpus into a training mix).

    Mechanics: docs are ordered per source by md5(doc_id) (a stable
    pseudo-random shuffle — reproducible across runs, engines, and
    partitionings, like `stratified_sample`), and kept while the
    running token total is within the source's budget. A doc is kept
    iff the cumulative count *through it* ≤ budget, so the mix
    undershoots rather than overshoots each quota and membership never
    depends on physical row order.

    Scale shape: ONE shuffle on `source` (the window partition key);
    token counts are computed map-side first so the shuffled rows are
    (source, hash, ints) — the text never rides the shuffle. Source
    count is small by construction (it's a mixture spec), so the window
    partitions are few but each is one task — at 100 TB you'd
    range-partition within source by the hash prefix and prefix-sum
    per range; documented here as the dial, with the exact semantics
    pinned by the oracle.

    Output: (doc_id, source, n_tokens, cum_tokens) for kept rows.

    Default mix: heavy quota (800 tokens ≈ 60% of a source) for
    src0–src4, light (300 ≈ 22%) for the rest — non-vacuous in both
    directions (every source keeps some docs and drops some).
    """
    budgets = budgets or _default_mix_budgets()
    docs = load_table(spark, sf_dir, "documents")
    budget = F.coalesce(
        *[F.when(F.col("source") == k, F.lit(v)) for k, v in budgets.items()],
        F.lit(0),
    )
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h"),
        F.size(F.split("text", " ")).alias("n_tokens"),
        budget.alias("budget"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        keyed.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def _default_mix_budgets() -> dict[str, int]:
    """Per-source token quotas over the testdata's src0..src19 domain."""
    return {f"src{i}": (800 if i < 5 else 300) for i in range(20)}


def source_mix_sample_oracle_sql(budgets: dict[str, int] | None = None) -> str:
    budgets = budgets or _default_mix_budgets()
    case = " ".join(f"WHEN source = '{k}' THEN {v}" for k, v in budgets.items())
    return f"""
WITH keyed AS (
    SELECT doc_id, source,
           md5(CAST(doc_id AS VARCHAR)) AS h,
           len(string_split(text, ' ')) AS n_tokens,
           CASE {case} ELSE 0 END AS budget
    FROM documents
), c AS (
    SELECT doc_id, source, n_tokens, budget,
           sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM keyed
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= budget
"""


# --------------------------------------------------- incremental dedup


def _canonical_set_md5() -> F.Column:
    """Canonical-form fingerprint of ``text``: md5 of the sorted
    distinct token set — the key of ``dedup_incremental``, its
    streaming twin and the ingest cascade's exact-dup stage."""
    return F.md5(
        F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), " ").cast(
            "binary"
        )
    )


def dedup_incremental(
    spark: SparkSession, sf_dir: str, split_id: int = 250
) -> DataFrame:
    """Incremental (ingestion-time) exact dedup — the shape a live
    pipeline actually runs: dedup a NEW batch of documents against an
    already-ingested corpus without re-deduping the corpus itself.
    Docs with ``doc_id < split_id`` stand in for the existing corpus,
    the rest for the incoming batch.

    Keys are *canonical-form fingerprints* — md5 of the sorted distinct
    token set — not raw-text hashes: ingestion-time dedup must catch
    re-serialized copies (shuffled or repeated tokens), and on this
    corpus raw texts are all byte-distinct while ~12% of docs share a
    token set. Two stages, both on the 32-hex-char key: (1) collapse
    the batch to one min-id survivor per fingerprint (the same
    deterministic survivor rule as `dedup_exact_docs`); (2) LEFT ANTI
    join the survivors against the corpus's fingerprint set. At 100 TB
    the corpus side is a *fingerprint index* (16-byte keys, no text)
    maintained as a bucketed table partitioned on the hash — the
    anti-join then co-locates without a corpus-side shuffle; here both
    sides shuffle once on the key. Strategy is left to Catalyst/AQE —
    LEFT ANTI can only build its right (corpus) side, so AQE broadcasts
    the fingerprint set while it is small and degrades to a shuffled
    anti-join on the 32-char keys once the corpus outgrows broadcast
    (the bucketed-index layout above is what removes even that shuffle
    at 100 TB).

    Output: (doc_id, set_md5, n_batch_copies) — batch docs that are
    genuinely new, with how many copies the batch itself carried.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _canonical_set_md5().alias("set_md5")
    )
    corpus = docs.filter(F.col("doc_id") < split_id).select("set_md5")
    batch = (
        docs.filter(F.col("doc_id") >= split_id)
        .groupBy("set_md5")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_batch_copies"))
    )
    return batch.join(corpus, "set_md5", "left_anti").select(
        "doc_id", "set_md5", "n_batch_copies"
    )


def dedup_incremental_oracle_sql(split_id: int = 250) -> str:
    return f"""
WITH d AS (
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS set_md5
    FROM documents
), batch AS (
    SELECT set_md5, min(doc_id) AS doc_id, count(*) AS n_batch_copies
    FROM d WHERE doc_id >= {split_id} GROUP BY 1
)
SELECT b.doc_id, b.set_md5, b.n_batch_copies
FROM batch b
WHERE NOT EXISTS (
    SELECT 1 FROM d c WHERE c.doc_id < {split_id} AND c.set_md5 = b.set_md5
)
"""


# ------------------------------------------------- BPE merge-pair statistics


def bpe_pair_stats(spark: SparkSession, sf_dir: str, top_k: int = 50) -> DataFrame:
    """First round of BPE tokenizer training, distributed: count
    adjacent character pairs inside words, weighted by corpus word
    frequency, and emit the top-k merge candidates — the statistic the
    BPE loop greedily consumes (the full loop re-tokenizes with the
    winning merge and repeats; each round is this same aggregation over
    a rewritten symbol table, so the one-round operator IS the scale
    shape of tokenizer training).

    Scale: words are counted first (one partial-aggregated shuffle on
    the word — the corpus's heavy hitters collapse to one row each
    BEFORE character explosion), then each DISTINCT word explodes into
    its pairs with its count attached; the pair aggregation is the
    second and last shuffle. Both shuffles carry only (string, count).
    Ranking is one `top_k`-row window, tie-broken on the pair text.

    Output: (rank, pair, cnt) — exact integers, deterministic order.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    chars = F.split(F.col("w"), "")
    pairs = words.select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.concat(F.element_at(chars, i), F.element_at(chars, i + 1)),
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("wc").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(F.col("rank").cast("long").alias("rank"), "pair", "cnt")
    )


def bpe_pair_stats_oracle_sql(top_k: int = 50) -> str:
    return f"""
WITH words AS (
    SELECT w, count(*) AS wc FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE length(w) >= 2 GROUP BY 1
), pairs AS (
    SELECT substr(w, i, 2) AS pair, wc
    FROM words, unnest(range(1, length(w))) AS t(i)
), counts AS (
    SELECT pair, sum(wc) AS cnt FROM pairs GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT) AS rank,
       pair, CAST(cnt AS BIGINT) AS cnt
FROM counts
QUALIFY rank <= {top_k}
"""


def bpe_train(spark: SparkSession, sf_dir: str, n_merges: int = 3) -> DataFrame:
    """The BPE training LOOP, closed: ``n_merges`` greedy rounds, each
    re-tokenizing the symbol table with the previous round's winning
    merge and re-aggregating — the iterative shape a tokenizer trainer
    actually runs (``bpe_pair_stats`` is one round of this).

    Fully declarative — no driver collect anywhere: each round's winner
    is a 1-row DataFrame (argmax by cnt DESC, lhs, rhs) broadcast back
    onto the symbol table as a cross join, and the merge itself is a
    literal-string ``replace``. Symbol representation: single-space
    padding + TWO-space separators (`` a  b  c ``), so the pattern
    ``' lhs  rhs '`` (a) can never match a partial symbol — the outer
    spaces pin both symbol boundaries — and (b) leaves each side's
    remaining separator space intact after replacement, which makes
    plain left-to-right non-overlapping ``replace`` reproduce BPE's
    greedy within-word fold exactly (verified identical in Spark and
    DuckDB, including the adjacent-run case ``a a a a`` → ``aa aa``).

    Scale shape: the loop body operates on the WORD table (vocab
    cardinality — ~10⁷ rows at 100 TB, not corpus rows), persisted per
    round so round k doesn't recompute rounds 1..k-1; pair counting is
    the same two partial-aggregated (string, count) shuffles as
    ``bpe_pair_stats``; the argmax is a 1-row limit over the pair
    domain and travels by broadcast.

    Output: (merge_round, lhs, rhs, cnt) — one row per round, exact
    integers + symbol strings; oracle = the same recurrence unrolled.
    """
    with FrameOwner() as own:
        winners, _ = _bpe_rounds(spark, sf_dir, int(n_merges), own)
        return winners.localCheckpoint(eager=True)


def _bpe_rounds(
    spark: SparkSession, sf_dir: str, n_merges: int, own: FrameOwner
) -> tuple[DataFrame, DataFrame]:
    """Shared BPE training loop: returns (winners, final vocab state).

    ``winners`` = one (merge_round, lhs, rhs, cnt) row per round;
    vocab state = (w, w_sym, wc) with the merges applied in order —
    ``bpe_train`` publishes the former, ``bpe_encode`` consumes the
    latter (the trained tokenizer IS the rewritten vocab). Both read
    the per-round word caches, which ``own`` holds."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        .select(
            "w",
            F.concat(
                F.lit(" "), F.concat_ws("  ", F.split("w", "")), F.lit(" ")
            ).alias("w_sym"),
            "wc",
        )
    )
    winners = None
    for rnd in range(1, n_merges + 1):
        words = own.persisted(words)
        syms = F.split(F.trim(F.col("w_sym")), "  ")
        adjacent = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("lhs"),
                    F.element_at(syms, i + F.lit(1)).alias("rhs"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))
        counts = (
            words.select("wc", F.explode(adjacent).alias("p"))
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("wc").alias("cnt"))
        )
        winner = (
            counts.orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .select(
                F.lit(rnd).cast("long").alias("merge_round"), "lhs", "rhs", "cnt"
            )
        )
        winners = winner if winners is None else winners.unionAll(winner)
        words = words.crossJoin(F.broadcast(winner.select("lhs", "rhs"))).select(
            "w",
            F.expr(
                "replace(w_sym, ' ' || lhs || '  ' || rhs || ' ',"
                " ' ' || lhs || rhs || ' ')"
            ).alias("w_sym"),
            "wc",
        )
    return winners, words


def bpe_encode(spark: SparkSession, sf_dir: str, n_merges: int = 3) -> DataFrame:
    """Apply the trained BPE merge table to the corpus — the encode
    half of the tokenizer lifecycle (train = ``bpe_train``; both share
    ``_bpe_rounds``, so the tokenizer applied here is exactly the one
    trained, not a re-derivation).

    Per document: the word multiset joins the rewritten VOCAB (the
    final symbol state after ``n_merges`` greedy merges) and each
    word's post-merge symbol count is summed; single-char words carry
    no pairs and encode to one symbol (coalesced around the vocab's
    length ≥ 2 cut), empty splits are dropped.

    Scale shape: encoding is a words⇄vocab equi-join on the word
    string — vocab cardinality, not corpus cardinality, rides the
    broadcast/shuffle side — plus one partial-aggregated per-doc sum.
    The training loop cost is vocab-sized (see ``_bpe_rounds``).

    Output: (doc_id, n_words, n_chars, n_bpe_tokens) — exact integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    doc_words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") >= 1)
    with FrameOwner() as own:
        _, vocab = _bpe_rounds(spark, sf_dir, int(n_merges), own)
        n_sym = vocab.select(
            "w", F.size(F.split(F.trim(F.col("w_sym")), "  ")).alias("n_sym")
        )
        return (
            doc_words.join(n_sym, "w", "left")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_words"),
                F.sum(F.length("w")).alias("n_chars"),
                F.sum(F.coalesce(F.col("n_sym"), F.lit(1))).alias("n_bpe_tokens"),
            )
            .localCheckpoint(eager=True)
        )


def bpe_encode_oracle_sql(n_merges: int = 3) -> str:
    """The train-oracle's unrolled recurrence, extended with w kept in
    the words CTEs and a final per-doc join + rollup."""
    k = int(n_merges)
    parts = [
        """words0 AS (
    SELECT w, ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS w_sym, wc
    FROM (
        SELECT w, count(*) AS wc FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) WHERE length(w) >= 2 GROUP BY 1
    )
)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""counts{i} AS (
    SELECT syms[j] AS lhs, syms[j+1] AS rhs, sum(wc) AS cnt
    FROM (SELECT string_split(trim(w_sym), '  ') AS syms, wc FROM words{i - 1}),
         unnest(range(1, len(syms))) AS t(j)
    GROUP BY 1, 2
), winner{i} AS (
    SELECT lhs, rhs FROM counts{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1
), words{i} AS (
    SELECT w, replace(w_sym, ' ' || x.lhs || '  ' || x.rhs || ' ',
                   ' ' || x.lhs || x.rhs || ' ') AS w_sym, wc
    FROM words{i - 1}, winner{i} x
)"""
        )
    parts.append(
        f"""vocab AS (
    SELECT w, len(string_split(trim(w_sym), '  ')) AS n_sym FROM words{k}
), doc_words AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE length(w) >= 1
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT d.doc_id,
       count(*) AS n_words,
       CAST(sum(length(d.w)) AS BIGINT) AS n_chars,
       CAST(sum(coalesce(v.n_sym, 1)) AS BIGINT) AS n_bpe_tokens
FROM doc_words d LEFT JOIN vocab v ON d.w = v.w
GROUP BY 1
"""
    )


def bpe_train_oracle_sql(n_merges: int = 3) -> str:
    """The identical recurrence unrolled round by round (winner k feeds
    the words_k rewrite via a scalar cross join)."""
    parts = [
        """words0 AS (
    SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS w_sym, wc
    FROM (
        SELECT w, count(*) AS wc FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) WHERE length(w) >= 2 GROUP BY 1
    )
)"""
    ]
    for k in range(1, int(n_merges) + 1):
        parts.append(
            f"""counts{k} AS (
    SELECT syms[i] AS lhs, syms[i+1] AS rhs, sum(wc) AS cnt
    FROM (SELECT string_split(trim(w_sym), '  ') AS syms, wc FROM words{k - 1}),
         unnest(range(1, len(syms))) AS t(i)
    GROUP BY 1, 2
), winner{k} AS (
    SELECT CAST({k} AS BIGINT) AS merge_round, lhs, rhs, CAST(cnt AS BIGINT) AS cnt
    FROM counts{k} ORDER BY cnt DESC, lhs, rhs LIMIT 1
), words{k} AS (
    SELECT replace(w_sym, ' ' || w.lhs || '  ' || w.rhs || ' ',
                   ' ' || w.lhs || w.rhs || ' ') AS w_sym, wc
    FROM words{k - 1}, winner{k} w
)"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT merge_round, lhs, rhs, cnt FROM winner{k}"
        for k in range(1, int(n_merges) + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


def chunk_documents(
    spark: SparkSession, sf_dir: str, chunk_tokens: int = 32, stride: int = 24
) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    of RAG/pretraining pipelines: each doc becomes overlapping chunks
    of ``chunk_tokens`` whitespace tokens every ``stride`` tokens
    (overlap = chunk_tokens - stride keeps boundary sentences in two
    chunks; the tail chunk is shorter by construction and a tail that
    merely re-covers the previous chunk is standard chunker output,
    documented rather than special-cased).

    Scale shape: map-only — the token array is staged ONCE per doc
    (the lambda-staging rule: no per-chunk re-split), starts come from
    a `sequence` explode, and each chunk is a `slice` + `concat_ws`
    projection. Zero Exchange; output size is corpus × (1/stride)
    overhead, the chunker's inherent cost.

    NULL-text rows are filtered on BOTH sides (operator and oracle):
    Spark's split(NULL) and DuckDB's list ops over NULL diverge (empty
    chunk row vs NULL columns), so totality over a nullable corpus is
    defined as "no chunks from absent text".

    Output: (doc_id, chunk_id, n_tokens, chunk_text).
    """
    docs = load_table(spark, sf_dir, "documents")
    return chunk_projection(docs, chunk_tokens=chunk_tokens, stride=stride)


def chunk_projection(
    docs: DataFrame, chunk_tokens: int = 32, stride: int = 24
) -> DataFrame:
    """The chunker dataflow over any document relation — shared by the
    batch operator and the stateless streaming twin (each doc arrives
    whole, so chunking needs no cross-row state)."""
    staged = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n") - 1, F.lit(0)), F.lit(int(stride))
    )
    return (
        staged.select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / F.lit(int(stride))).cast("long").alias("chunk_id"),
            F.slice("toks", F.col("start") + 1, F.lit(int(chunk_tokens))).alias("ck"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("ck").alias("n_tokens"),
            F.concat_ws(" ", "ck").alias("chunk_text"),
        )
    )


def chunk_documents_oracle_sql(chunk_tokens: int = 32, stride: int = 24) -> str:
    return f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents
    WHERE text IS NOT NULL
), s AS (
    SELECT doc_id, toks, n,
           unnest(range(0, greatest(n, 1), {int(stride)})) AS start
    FROM t
)
SELECT doc_id,
       start // {int(stride)} AS chunk_id,
       len(list_slice(toks, start + 1, start + {int(chunk_tokens)})) AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + {int(chunk_tokens)}), ' ')
           AS chunk_text
FROM s
"""


def corpus_shuffle_order(
    spark: SparkSession, sf_dir: str, seed: str = "shuf1", buckets: int = 64
) -> DataFrame:
    """Deterministic global-shuffle order for training reads — the
    "shuffle the corpus before each epoch" step, computed scalably.

    A naive global shuffle is ``ORDER BY rand()``: irreproducible AND
    a single-task global sort at the end. Here the read order is a
    pure function of the row — ``shard = md5(seed:doc_id) mod
    buckets``, ``pos = rank of the hash within its shard`` — so the
    permutation is reproducible across runs/engines/partitionings and
    re-seedable per epoch (change ``seed``). The shard is exactly the
    output file a training job would write (shard count = the
    parallelism dial), and each shard's positions come from an
    INDEPENDENT partition-local sort of ~N/buckets rows: ``buckets``
    parallel sorts, never a global one. md5's avalanche makes the
    (shard, pos) order statistically indistinguishable from a uniform
    shuffle for training purposes.

    Output: (doc_id, shard, pos) — read order is ORDER BY (shard, pos).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(
        F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")).cast("binary")
    )
    shard = F.conv(F.substring(F.col("h"), 1, 2), 16, 10).cast("long") % buckets
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .select("doc_id", "h", shard.alias("shard"))
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
        )
    )


def corpus_shuffle_order_oracle_sql(seed: str = "shuf1", buckets: int = 64) -> str:
    # hex→int via digit positions (the strpos idiom shared with the
    # stratified_sample / simhash oracles)
    digit = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    val = f"{digit.format(i=1)} * 16 + {digit.format(i=2)}"
    return f"""
WITH t AS (
    SELECT doc_id, md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS h FROM documents
), b AS (
    SELECT doc_id, h, ({val}) % {int(buckets)} AS shard FROM t
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
FROM b
"""


def quality_weighted_sample(
    spark: SparkSession, sf_dir: str, k: int = 50, seed: str = "qw1"
) -> DataFrame:
    """Deterministic quality-weighted resampling — the continuous
    sibling of ``stratified_sample`` (group rates) and
    ``source_mix_sample`` (budget quotas): each doc is kept with
    probability proportional to a quality score, here the saturating
    length weight p = n_toks / (n_toks + k) (short/empty docs are
    mostly dropped, long docs approach certainty — the shape
    quality-weighted mixtures like DoReMi-style reweighting use).

    Membership is a pure function of the row (no RNG state): u =
    first 8 hex digits of md5(seed:doc_id) as a uniform over [0,16⁸);
    keep iff u·(n_toks + k) < n_toks·16⁸ — an exact BIGINT
    cross-multiply (max ~10⁹·10⁴ ≪ 2⁶³), so both engines decide every
    row identically and re-runs/partitionings cannot flip membership.
    Re-seedable per epoch via ``seed``. Map-only, zero shuffle.

    Output: (doc_id, n_toks, u) for kept rows — integers only.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.coalesce("text", F.lit("")), " "))
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")).cast("binary")),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.select(
            "doc_id",
            n_toks.cast("long").alias("n_toks"),
            u.alias("u"),
        )
        .filter(F.col("u") * (F.col("n_toks") + F.lit(int(k))) < F.col("n_toks") * F.lit(16**8))
        .select("doc_id", "n_toks", "u")
    )


def quality_weighted_sample_oracle_sql(k: int = 50, seed: str = "qw1") -> str:
    digit = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    val = " + ".join(f"{digit.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8))
    return f"""
WITH t AS (
    SELECT doc_id,
           len(string_split(coalesce(text, ''), ' ')) AS n_toks,
           md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS h
    FROM documents
), b AS (
    SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks, CAST({val} AS BIGINT) AS u
    FROM t
)
SELECT doc_id, n_toks, u
FROM b WHERE u * (n_toks + {int(k)}) < n_toks * {16 ** 8}
"""


def hashed_features(
    spark: SparkSession, sf_dir: str, dims: int = 1024, seed: str = "fh1"
) -> DataFrame:
    """Feature hashing (the "hashing trick") — fixed-width sparse
    feature vectors for linear/GBDT baselines without a vocabulary
    pass: every token maps to ``md5(seed:token) mod dims``; the doc's
    feature value is the count of its tokens landing in that bucket.
    No vocabulary state, no OOV, stable across corpus growth — which
    is exactly why it is the standard first featurizer at 100 TB (the
    alternative, a fitted vocabulary index, is itself a corpus-sized
    table that must version with the data).

    Scale shape: explode → ONE partial-aggregated (doc, idx) shuffle;
    the hash is a pure row function (no broadcast, no state). Sparse
    long format (doc_id, feat_idx, cnt) IS the training-ready layout —
    dense assembly is a consumer concern.

    Output: (doc_id, feat_idx, cnt) — exact integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    idx = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col("tok")).cast("binary")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % int(dims)
    )
    return (
        docs.select("doc_id", F.explode(F.split(F.coalesce("text", F.lit("")), " ")).alias("tok"))
        .select("doc_id", idx.alias("feat_idx"))
        .groupBy("doc_id", "feat_idx")
        .agg(F.count("*").alias("cnt"))
    )


def hashed_features_oracle_sql(dims: int = 1024, seed: str = "fh1") -> str:
    digit = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    val = " + ".join(f"{digit.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
    FROM documents
), hashed AS (
    SELECT doc_id, md5('{seed}:' || tok) AS h FROM toks
)
SELECT doc_id, CAST(({val}) % {int(dims)} AS BIGINT) AS feat_idx,
       count(*) AS cnt
FROM hashed GROUP BY 1, 2
"""


# ------------------------------------- duplicated-substring span dedup


def _dup_gram_positions(docs: DataFrame, w: int, *keep: str) -> DataFrame:
    """Shared front half of the ExactSubstr pair: stage token arrays
    once per doc, slide a stride-1 ``w``-gram over every position, and
    return the gram occurrences.

    Occurrence keys are (doc_id, p) with p the 0-based word index of
    the gram start; downstream frequency passes group on md5(gram) —
    a narrow 16-byte key, never the raw text — and partial-aggregate
    map-side. ``keep`` passes extra doc columns through in front (the
    streaming twin keeps ``ts``).
    """
    staged = (
        docs.filter(F.col("text").isNotNull())
        .select(*keep, "doc_id", F.split("text", " ").alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= w)
    )
    return staged.select(
        *keep,
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - w),
                # element_at + concat_ws: no per-gram array allocation
                # (always full-length here — n ≥ w is pre-filtered)
                lambda i: F.concat_ws(
                    " ", *[F.element_at(F.col("toks"), i + 1 + j) for j in range(w)]
                ),
            )
        ).alias("p", "gram"),
    ).select(
        *keep, "doc_id", F.col("p").cast("long").alias("p"),
        F.md5(F.col("gram").cast("binary")).alias("g_md5"),
    )


def _prune_singleton_grams(grams: DataFrame, buckets: int) -> DataFrame:
    """Singleton-gram pre-filter for the ExactSubstr frequency pass — a
    depth-1 counting sketch (counting Bloom filter) expressed as plain
    DataFrame ops so Catalyst keeps it whole-stage-codegen'd.

    Pass 1 counts grams per hash bucket: map-side combine bounds each
    task's shuffle contribution at ``buckets`` partial rows no matter
    how many grams it emits — at 100 TB this shuffle is ~0.01% of the
    raw gram volume. Only buckets holding ≥2 occurrences can contain a
    duplicated gram, so the LEFT SEMI probe (AQE broadcasts the hot-
    bucket list while it is small) drops the overwhelmingly-singleton
    tail BEFORE the exact per-gram frequency shuffle. Sound by
    construction: a true duplicate's bucket always counts ≥2, so no
    false negatives — only hash-collision false positives, which the
    exact frequency pass then removes. Same estimate-never-under
    discipline as ``item_freq_sketch``'s Count-Min probe.
    """
    hot = (
        grams.groupBy(F.pmod(F.xxhash64("g_md5"), F.lit(buckets)).alias("gb"))
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") > 1)
        .select("gb")
    )
    return (
        grams.withColumn("gb", F.pmod(F.xxhash64("g_md5"), F.lit(buckets)))
        .join(hot, "gb", "left_semi")
        .drop("gb")
    )


def _merge_islands(positions: DataFrame, w: int) -> DataFrame:
    """Gaps-and-islands merge of fixed-length-``w`` intervals: input
    (doc_id, p) marked positions → (doc_id, span_start, span_end)
    maximal merged spans. One doc_id shuffle; the running max is
    per-doc-bounded. A new island starts when the next interval can no
    longer touch the furthest end seen (p > max_prev_p + w), so merged
    spans are disjoint with a ≥1-word gap between them (the previous
    island ends at max_prev_p + w - 1; the next starts at
    ≥ max_prev_p + w + 1)."""
    order = Window.partitionBy("doc_id").orderBy("p")
    prev_max = F.max("p").over(order.rowsBetween(Window.unboundedPreceding, -1))
    new_island = (
        F.when(prev_max.isNull() | (F.col("p") > prev_max + w), 1).otherwise(0)
    )
    return (
        positions.withColumn("new_island", new_island)
        .withColumn(
            "island",
            F.sum("new_island").over(order.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(w - 1)).cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def dup_spans(
    spark: SparkSession, sf_dir: str, w: int = 4, prefilter_buckets: int = 1 << 20
) -> DataFrame:
    """Cross-document duplicated-substring span detection — the
    reporting half of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"),
    approximated at word-``w``-gram resolution: every position whose
    sliding ``w``-gram occurs more than once ANYWHERE in the corpus
    (another doc or elsewhere in the same doc) marks a duplicated
    interval [p, p+w-1]; overlapping/adjacent intervals per doc merge
    into maximal spans (classic gaps-and-islands over the running max
    start). Unlike ``passage_scrub`` (fixed non-overlapping passages),
    the stride-1 gram catches duplication at ANY alignment, and the
    island merge reports each contiguous duplicated run exactly once.

    Scale shape: gram generation is map-only off a once-staged token
    array (output ≈ one row per corpus word — the inherent cost of
    stride-1 ExactSubstr); a depth-1 counting-sketch pre-filter
    (:func:`_prune_singleton_grams` — bucket counts whose shuffle is
    bounded at ``prefilter_buckets`` partial rows per task) drops the
    singleton tail before the exact work; frequency is then ONE
    partial-aggregated shuffle on the 16-byte md5 over the surviving
    candidates; the probe is an equi-join on the same key; the island
    merge is one doc_id shuffle with a per-doc-bounded running max.
    No all-pairs or suffix-array stage.

    Output: (doc_id, span_start, span_end, n_words_dup) — 0-based
    inclusive word positions, exact integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = _prune_singleton_grams(
        _dup_gram_positions(docs, w), prefilter_buckets
    )
    freq = grams.groupBy("g_md5").agg(F.count("*").alias("n_occ"))
    dup = (
        grams.join(freq.filter(F.col("n_occ") > 1), "g_md5")
        .select("doc_id", "p")
    )
    return _merge_islands(dup, w).select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("n_words_dup"),
    )


def dup_spans_oracle_sql(w: int = 4) -> str:
    return f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents WHERE text IS NOT NULL
), g AS (
    SELECT doc_id, i AS p,
           array_to_string(list_slice(toks, i + 1, i + {w}), ' ') AS gram
    FROM (SELECT doc_id, toks,
                 unnest(range(0, n - {w} + 1)) AS i
          FROM t WHERE n >= {w})
), f AS (
    SELECT gram FROM g GROUP BY 1 HAVING count(*) > 1
), d AS (
    SELECT g.doc_id, g.p FROM g JOIN f USING (gram)
), isl AS (
    SELECT doc_id, p,
           CASE WHEN max(p) OVER pw IS NULL
                  OR p > max(p) OVER pw + {w}
                THEN 1 ELSE 0 END AS new_island
    FROM d
    WINDOW pw AS (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), num AS (
    SELECT doc_id, p,
           sum(new_island) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS island
    FROM isl
)
SELECT doc_id,
       CAST(min(p) AS BIGINT) AS span_start,
       CAST(max(p) + {w} - 1 AS BIGINT) AS span_end,
       CAST(max(p) - min(p) + {w} AS BIGINT) AS n_words_dup
FROM num GROUP BY doc_id, island
"""


def dup_span_scrub(
    spark: SparkSession, sf_dir: str, w: int = 4, prefilter_buckets: int = 1 << 20
) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al. 2022):
    every duplicated ``w``-gram occurrence EXCEPT the corpus-wide
    first (min occurrence key — a deterministic associative aggregate,
    so one copy of every phrase survives for training) marks a scrub
    interval; intervals merge into maximal spans per doc (same island
    logic as ``dup_spans``); the surviving words reassemble in
    original order. Docs with nothing duplicated pass through whole.

    The occurrence key is the STRUCT (doc_id, p), elected with a plain
    struct-min (lexicographic ordering on both engines) — no packed-
    integer arithmetic, so arbitrary 64-bit doc_ids and document
    lengths cannot overflow or collide.

    Scale shape: the depth-1 counting-sketch pre-filter
    (:func:`_prune_singleton_grams`) drops the singleton tail first;
    survivor election then rides the same partial-aggregated frequency
    shuffle as dup_spans (count + min in one pass — sound under the
    pre-filter because every occurrence of a true duplicate survives
    it); span containment is evaluated per doc against its own
    collected span list (merged spans are provably disjoint — island
    boundaries enforce a ≥1-word gap — and per-doc-bounded), so
    reassembly is an expression-level filter-with-index, not a range
    join.

    Output: (doc_id, clean_text, n_words, n_removed).
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = _prune_singleton_grams(
        _dup_gram_positions(docs, w), prefilter_buckets
    )
    key = F.struct(F.col("doc_id").alias("d"), F.col("p").alias("pp"))
    occ = grams.select("g_md5", "doc_id", "p", key.alias("occ_key"))
    first = occ.groupBy("g_md5").agg(
        F.count("*").alias("n_occ"), F.min("occ_key").alias("first_key")
    )
    scrub = (
        occ.join(first.filter(F.col("n_occ") > 1), "g_md5")
        .filter(F.col("occ_key") != F.col("first_key"))
        .select("doc_id", "p")
    )
    spans = (
        _merge_islands(scrub, w)
        .select(
            "doc_id",
            F.col("span_start").alias("s"),
            F.col("span_end").alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("sp"))
    )
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    sp = F.coalesce(F.col("sp"), F.array().cast("array<struct<s:bigint,e:bigint>>"))
    kept = F.filter(
        "toks",
        lambda x, i: ~F.exists(sp, lambda r: (i >= r["s"]) & (i <= r["e"])),
    )
    return (
        toks.join(spans, "doc_id", "left")
        .select(
            "doc_id",
            F.array_join(kept, " ").alias("clean_text"),
            F.size("toks").cast("long").alias("n_words"),
            (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        )
    )


def dup_span_scrub_oracle_sql(w: int = 4) -> str:
    return f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents WHERE text IS NOT NULL
), g AS (
    SELECT doc_id, i AS p,
           array_to_string(list_slice(toks, i + 1, i + {w}), ' ') AS gram
    FROM (SELECT doc_id, toks,
                 unnest(range(0, n - {w} + 1)) AS i
          FROM t WHERE n >= {w})
), f AS (
    SELECT gram, min({{'d': doc_id, 'pp': p}}) AS first_key
    FROM g GROUP BY 1 HAVING count(*) > 1
), d AS (
    SELECT g.doc_id, g.p FROM g JOIN f USING (gram)
    WHERE {{'d': g.doc_id, 'pp': g.p}} != f.first_key
), isl AS (
    SELECT doc_id, p,
           CASE WHEN max(p) OVER pw IS NULL
                  OR p > max(p) OVER pw + {w}
                THEN 1 ELSE 0 END AS new_island
    FROM d
    WINDOW pw AS (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), num AS (
    SELECT doc_id, p,
           sum(new_island) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS island
    FROM isl
), spans AS (
    SELECT doc_id, min(p) AS s, max(p) + {w} - 1 AS e
    FROM num GROUP BY doc_id, island
), toks AS (
    SELECT doc_id, unnest(toks) AS tok,
           generate_subscripts(toks, 1) - 1 AS i
    FROM t
), marked AS (
    SELECT k.doc_id, k.tok, k.i, s.doc_id IS NOT NULL AS covered
    FROM toks k LEFT JOIN spans s
      ON k.doc_id = s.doc_id AND k.i BETWEEN s.s AND s.e
)
SELECT doc_id,
       coalesce(string_agg(tok, ' ' ORDER BY i)
                FILTER (WHERE NOT covered), '') AS clean_text,
       count(*) AS n_words,
       count(*) FILTER (WHERE covered) AS n_removed
FROM marked GROUP BY doc_id
"""


def dup_span_incremental(
    spark: SparkSession, sf_dir: str, w: int = 4, split_id: int = 250
) -> DataFrame:
    """Ingestion-time exact-substring span detection — the incremental
    form a live pipeline runs: mark the spans of NEW batch documents
    (``doc_id >= split_id``) that duplicate text already in the
    ingested corpus (``doc_id < split_id``), without re-scanning
    corpus-vs-corpus pairs. The candidate stage probes the corpus's
    distinct-gram index with the batch's grams, so work is ∝ batch
    size, not corpus size — the same index-probe discipline as
    ``dedup_incremental`` (fingerprint index) and
    ``near_dup_incremental`` (LSH band index).

    At 100 TB the index is a persisted bucketed table of 16-byte gram
    md5s maintained by appending each ingested batch's grams; the
    LEFT SEMI probe then co-locates on the bucket hash with no
    corpus-side shuffle (AQE broadcasts it while small). Intra-batch
    duplication is ``dup_spans`` run on the batch alone; this operator
    is the corpus-contamination half.

    Output: (doc_id, span_start, span_end, n_words_dup) for batch
    docs only — same shape as ``dup_spans``.
    """
    docs = load_table(spark, sf_dir, "documents")
    batch_grams = _dup_gram_positions(docs.filter(F.col("doc_id") >= split_id), w)
    corpus_grams = _dup_gram_positions(docs.filter(F.col("doc_id") < split_id), w)
    index = corpus_grams.select("g_md5").distinct()
    hits = batch_grams.join(index, "g_md5", "left_semi").select("doc_id", "p")
    return _merge_islands(hits, w).select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("n_words_dup"),
    )


def dup_span_incremental_oracle_sql(w: int = 4, split_id: int = 250) -> str:
    return f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents WHERE text IS NOT NULL
), g AS (
    SELECT doc_id, i AS p,
           array_to_string(list_slice(toks, i + 1, i + {w}), ' ') AS gram
    FROM (SELECT doc_id, toks,
                 unnest(range(0, n - {w} + 1)) AS i
          FROM t WHERE n >= {w})
), hits AS (
    SELECT b.doc_id, b.p FROM g b
    WHERE b.doc_id >= {split_id}
      AND EXISTS (SELECT 1 FROM g c
                  WHERE c.doc_id < {split_id} AND c.gram = b.gram)
), isl AS (
    SELECT doc_id, p,
           CASE WHEN max(p) OVER pw IS NULL
                  OR p > max(p) OVER pw + {w}
                THEN 1 ELSE 0 END AS new_island
    FROM hits
    WINDOW pw AS (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), num AS (
    SELECT doc_id, p,
           sum(new_island) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS island
    FROM isl
)
SELECT doc_id,
       CAST(min(p) AS BIGINT) AS span_start,
       CAST(max(p) + {w} - 1 AS BIGINT) AS span_end,
       CAST(max(p) - min(p) + {w} AS BIGINT) AS n_words_dup
FROM num GROUP BY doc_id, island
"""


# -------------------------------------------- fixed-k per-stratum holdout


def eval_holdout_sample(
    spark: SparkSession, sf_dir: str, k: int = 10, seed: str = "holdout-v1"
) -> DataFrame:
    """Fixed-K-per-stratum holdout carve-out — the eval-set builder:
    exactly ``min(K, |stratum|)`` documents per language, chosen by a
    seeded md5 rank so the holdout is reproducible across runs,
    engines, and partitionings, and changes ONLY when the seed does
    (rate-based ``stratified_sample`` grows with the corpus; an eval
    set must stay pinned at K).

    Scale shape: the rank is ``row_number`` over (lang, seeded-hash
    order), and the ``rn <= K`` predicate compiles to Spark's
    WindowGroupLimit (partial per-partition top-K BEFORE the lang
    shuffle, final top-K after — the flagship hot-items plan shape),
    so each task forwards at most K rows per stratum, never the
    stratum. Ties are impossible (doc_id tie-break).

    Output: (doc_id, lang, rn) — integers only.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")).cast("binary"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def eval_holdout_sample_oracle_sql(k: int = 10, seed: str = "holdout-v1") -> str:
    return f"""
WITH ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('{seed}:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
)
SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {k}
"""
