"""Text-analysis operators for training-data pipelines (SURVEY.md §2.11).

Token statistics, n-grams, per-document stats, corpus-trained language
ID, quality scoring, and rolling-hash fingerprints — the filter/score
stage of an LLM data pipeline, all expressed as JVM-side DataFrame ops
(split/explode/groupBy + higher-order functions; zero Python UDFs).
One documented exception: Unicode NFC normalization
(q_text_normalize_nfc) has no JVM builtin, so it uses the sanctioned
slow-path form — an Arrow-batched pandas UDF — with its output pinned
bit-exactly by md5 against the oracle's native nfc_normalize.

Determinism: every score is integer math or single IEEE expressions;
ratios finish at 6 dp; ranking queries carry unique tiebreaks.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas-UDF eval-type inference
# resolves stringified annotations (PEP 563) against module globals
# (q_text_normalize_nfc's UDF), same as functions/udfs.py.

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import finish, sql_finish_dbl
from ..registry import query
from ..sources.tables import load

#: tiny demo stopword list (matches the fixture's word-soup vocabulary)
_STOPWORDS = ("the", "a", "of", "and", "to")
_SW_SQL = "('" + "', '".join(_STOPWORDS) + "')"


@query(
    "q_text_token_stats",
    oracle=f"""
    SELECT lang, token, n_uses
    FROM (
        SELECT lang, token, count(*) AS n_uses,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY count(*) DESC, token ASC) AS rn
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
              FROM documents)
        WHERE token NOT IN {_SW_SQL}
        GROUP BY lang, token
    ) WHERE rn <= 5
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 non-stopword term frequencies per language.

    tokenize → explode → stopword filter → count → per-group top-k
    (WindowGroupLimit). At 100 TB: partial counts combine map-side, the
    shuffle carries only (lang, token) partials.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("token")).filter(
        ~F.col("token").isin(*_STOPWORDS)
    )
    counts = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n_uses"))
    w = Window.partitionBy("lang").orderBy(F.desc("n_uses"), F.asc("token"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "token", "n_uses")
    )


@query(
    "q_text_ngrams",
    bench=False,
    oracle="""
    SELECT bigram, n_uses
    FROM (
        SELECT word || ' ' || next_word AS bigram, count(*) AS n_uses
        FROM (
            SELECT word,
                   lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS next_word
            FROM (SELECT doc_id,
                         unnest(string_split(text, ' ')) AS word,
                         generate_subscripts(string_split(text, ' '), 1) AS pos
                  FROM documents)
        )
        WHERE next_word IS NOT NULL
        GROUP BY 1
    )
    ORDER BY n_uses DESC, bigram ASC
    LIMIT 20
    """,
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams over the corpus.

    Bigrams are built array-side (adjacent-slot concat via transform over
    an index sequence) so each document explodes exactly once — no window
    shuffle over the token stream, unlike the oracle's lag/lead form.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_uses"))
        .orderBy(F.desc("n_uses"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "q_text_doc_stats",
    bench=False,
    oracle=f"""
    SELECT doc_id, lang, source,
           cast(length(text) as bigint) AS chars_measured,
           length(text) = n_chars AS n_chars_valid,
           cast(len(string_split(text, ' ')) as int) AS n_words,
           cast(len(list_distinct(string_split(text, ' '))) as int) AS n_uniq_words,
           cast(length(replace(text, ' ', '')) as double) /
               len(string_split(text, ' ')) AS mean_word_len
    FROM documents
    """,
)
def q_text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats; validates the fixture's n_chars column."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("chars_measured"),
        (F.length("text") == F.col("n_chars")).alias("n_chars_valid"),
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_uniq_words"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks)
        ).alias("mean_word_len"),
    )


@query(
    "q_text_langid",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    profile AS (
        SELECT d.lang, t.token, count(*) AS n
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents) t
        JOIN documents d USING (doc_id)
        GROUP BY d.lang, t.token
    ),
    scored AS (
        SELECT tok.doc_id, profile.lang, cast(sum(profile.n) as bigint) AS score
        FROM tok JOIN profile ON tok.token = profile.token
        GROUP BY tok.doc_id, profile.lang
    )
    SELECT doc_id, lang AS predicted_lang, score
    FROM (
        SELECT doc_id, lang, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang ASC) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via corpus-trained token profiles (n-gram heuristic).

    A naive-Bayes-shaped heuristic kept in exact INTEGER math so the
    argmax is engine-portable: score(doc, lang) = Σ_tokens count(token in
    lang's corpus); predicted = argmax (ties → lang asc). The per-lang
    profile is a self-aggregation of the corpus — the realistic shape of
    bootstrap language ID over unlabeled crawl data.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    profile = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scored = (
        tok.join(profile, on="token")
        .groupBy("doc_id", "lang")
        .agg(F.sum("n").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("predicted_lang"), "score")
    )


@query(
    "q_text_quality",
    bench=False,
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_uniq,
               len(list_filter(string_split(text, ' '),
                               t -> t IN {_SW_SQL})) AS n_stop,
               length(replace(text, ' ', '')) AS n_alpha
        FROM documents
    )
    SELECT doc_id, n_words,
           cast(n_uniq as double) / n_words AS uniq_ratio,
           cast(n_stop as double) / n_words AS stop_ratio,
           0.5 * (cast(n_uniq as double) / n_words)
               + 0.3 * (1.0 - cast(n_stop as double) / n_words)
               + 0.2 * least(cast(n_words as double) / 50.0, 1.0)
               AS quality_score
    FROM s
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: lexical-diversity / stopword / length
    signals combined into one score — the keep-or-drop stage of a corpus
    cleaning pipeline. Integer counts + one fixed IEEE combination."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    s = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).alias("n_stop"),
    )
    uniq_ratio = F.col("n_uniq").cast("double") / F.col("n_words")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_words")
    length_term = F.least(F.col("n_words").cast("double") / 50.0, F.lit(1.0))
    return s.select(
        "doc_id",
        "n_words",
        uniq_ratio.alias("uniq_ratio"),
        stop_ratio.alias("stop_ratio"),
        (
            0.5 * uniq_ratio + 0.3 * (1.0 - stop_ratio) + 0.2 * length_term
        ).alias("quality_score"),
    )


@query(
    "q_text_fingerprint",
    bench=False,
    oracle="""
    WITH codes AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              t -> length(t) * 17 + ascii(t)) AS cs
        FROM documents
    )
    SELECT doc_id,
           list_reduce(cs, (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
    FROM codes
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash over the token stream (document fingerprint).

    fp = fold((acc, code) -> (acc*31 + code) mod 1e9+7) over per-token
    codes — order-sensitive (unlike bag-of-words hashes), pure integer
    math, engine-portable. Spark seeds the fold with the first element to
    match DuckDB's list_reduce seeding.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    codes = F.transform(
        toks, lambda t: (F.length(t) * 17 + F.ascii(t)).cast("bigint")
    )
    fp = F.aggregate(
        F.slice(codes, 2, F.size(codes) - 1),
        F.element_at(codes, 1),
        lambda acc, c: (acc * 31 + c) % 1000000007,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "q_text_dedup_normalized",
    bench=False,
    oracle="""
    SELECT min(doc_id) AS keep_doc_id,
           count(*) AS n_variants,
           count(DISTINCT text) AS n_distinct_raw
    FROM (
        SELECT doc_id, text,
               trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm_text
        FROM documents
    )
    GROUP BY norm_text
    """,
)
def q_text_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-dedup: lowercase, collapse whitespace, trim —
    the canonical pre-dedup cleanup stage of a corpus pipeline. Groups
    that differ only by normalization collapse (n_distinct_raw >
    n_variants would flag a normalization bug)."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    return (
        d.withColumn("norm_text", norm)
        .groupBy("norm_text")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("text").alias("n_distinct_raw"),
        )
        .select("keep_doc_id", "n_variants", "n_distinct_raw")
    )


@query(
    "q_text_edit_distance",
    oracle="""
    WITH b AS (
        SELECT p_partkey, p_name, p_size,
               split_part(p_name, ' ', 1) AS block
        FROM part
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           cast(levenshtein(a.p_name, b.p_name) AS bigint) AS edit_dist
    FROM b a JOIN b b ON a.block = b.block AND a.p_size = b.p_size
                     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def q_text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance candidate pairs for entity resolution.

    The fuzzy-matching pattern that does NOT do an all-pairs cross
    join: rows are first blocked on a cheap composite key (first name
    token + size), pairs form only WITHIN a block via a self equi-join,
    and levenshtein (JVM built-in on both engines) prunes to distance
    <= 4. Pair cost is sum(block^2), tunable by block granularity — at
    the bench SF the blocks cap at ~73 rows (~500k candidate pairs
    from 20k parts); at 100 TB the same plan holds as long as the
    blocking key keeps groups bounded (add tokens to the key to split
    hot blocks, exactly like salting). The key_a < key_b predicate
    halves the pair space and makes output deterministic.
    """
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_size",
        F.split(F.col("p_name"), " ").getItem(0).alias("block"),
    )
    a = p.alias("a")
    b = p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).cast("bigint"),
        )
        .filter(F.col("edit_dist") <= 4)
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            "edit_dist",
        )
    )


#: GPT-2-style pretokenizer subset: letter runs, single digits, punctuation
#: singles. Kept to the regex subset Java (Spark) and RE2 (DuckDB) agree on.
_BPE_PRETOKEN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@query(
    "q_text_tokenize_bpe",
    bench=False,
    oracle=f"""
    SELECT lang,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(len(regexp_extract_all(text, '{_BPE_PRETOKEN}')))
                AS bigint) AS n_tokens,
           cast(sum(len(string_split_regex(trim(text), '\\s+')))
                AS bigint) AS n_ws_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_text_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token counting: BPE pretokenizer regex vs whitespace.

    The token-budget estimator every training pipeline runs before a
    tokenizer exists in the cluster: a GPT-2-style pretokenization
    regex (letter runs | single digits | punctuation) counts
    BPE-merge-input tokens, reported next to the whitespace count the
    rest of the text battery uses. regexp_extract_all + size is pure
    JVM codegen — no UDF, no explode; one hash-agg on lang. The regex
    stays inside the Java/RE2 common subset so both engines tokenize
    identically. At 100 TB this is a map-side-only pass over text plus
    a tiny shuffle (lang cardinality).
    """
    d = load(spark, sf_dir, "documents")
    bpe_n = F.size(F.regexp_extract_all("text", F.lit(_BPE_PRETOKEN), 0))
    ws_n = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bpe_n).alias("n_tokens"),
        F.sum(ws_n).alias("n_ws_tokens"),
    )


@query(
    "q_text_tfidf_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, lang, token, count(*) AS n_tok,
               sum(count(*)) OVER (PARTITION BY doc_id) AS doc_len
        FROM toks GROUP BY doc_id, lang, token
    ),
    df AS (
        SELECT token, count(DISTINCT doc_id) AS n_docs_with
        FROM toks GROUP BY token
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.lang, tf.token,
               (cast(tf.n_tok as double) / tf.doc_len) *
               {sql_finish_dbl(
                   'ln(cast(n.n_docs as double) / df.n_docs_with)', 6
               )} AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, lang, token, tfidf
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def q_text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 most characteristic terms per doc.

    The classic text featurizer the token-stats battery was missing:
    tf = term count / doc length, idf = ln(N / df), top-k per doc by
    the product. Parity: idf (the only transcendental) is finished to
    6 dp at the VOCAB grain before multiplication; tf is a quotient of
    identical integers; the product of two identical doubles is
    identical, so ranking ties resolve the same way in both engines
    (token tiebreak covers exact score ties).

    Scale: tf is one hash-agg keyed on (doc, token); df is Zipf-small
    and BROADCAST onto it (never a shuffle join keyed on token — the
    hottest word hot-keys it); top-3 per doc is WindowGroupLimit, so
    only ~3 rows per doc survive the final shuffle.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tf = (
        toks.groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).alias("n_tok"))
        .withColumn(
            "doc_len",
            F.sum("n_tok").over(Window.partitionBy("doc_id")),
        )
    )
    df = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs_with")
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = finish(
        F.log(F.col("n_docs").cast("double") / F.col("n_docs_with").cast("double")),
        6,
    )
    scored_vocab = df.crossJoin(F.broadcast(n)).select(
        "token", idf.alias("idf")
    )
    scored = tf.join(F.broadcast(scored_vocab), on="token").select(
        "doc_id",
        "lang",
        "token",
        (
            (F.col("n_tok").cast("double") / F.col("doc_len")) * F.col("idf")
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "lang", "token", "tfidf")
    )


@query(
    "q_text_url_parse",
    oracle="""
    WITH urls AS (
        SELECT concat('https://seg', o_orderkey % 7, '.example.com/orders/',
                      o_orderkey, '?pri=', replace(o_orderpriority, ' ', '+'),
                      '&st=', o_orderstatus) AS u
        FROM orders
    )
    SELECT split_part(split_part(u, '//', 2), '/', 1) AS host,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT split_part(split_part(u, '?', 1), '.com', 2))
                AS BIGINT) AS n_paths,
           CAST(count(DISTINCT split_part(split_part(u, 'pri=', 2), '&', 1))
                AS BIGINT) AS n_priorities
    FROM urls
    GROUP BY host
    """,
)
def q_text_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with parse_url — the canonicalization step every
    crawl-dedup pipeline runs before hashing (host grouping, path
    extraction, tracking-param stripping). Spark's parse_url is a
    JVM-side builtin (HOST/PATH/QUERY/REF parts, plus keyed QUERY
    lookup), map-only with the scan; grouping by host is the natural
    crawl-partitioning key (per-site politeness, per-site dedup scope).
    URLs are synthesized deterministically from order attributes (7
    hosts, per-order paths); DuckDB lacks parse_url, so the oracle
    derives the same parts with split_part string algebra — agreement
    proves the parser semantics, not just the plumbing. The QUERY('pri')
    keyed form is checked via the distinct-priorities count per host.
    """
    o = load(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://seg"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit(".example.com/orders/"),
        F.col("o_orderkey").cast("string"),
        F.lit("?pri="),
        F.replace(F.col("o_orderpriority"), F.lit(" "), F.lit("+")),
        F.lit("&st="),
        F.col("o_orderstatus"),
    )
    u = o.select(url.alias("u"))
    return (
        u.select(
            F.parse_url("u", F.lit("HOST")).alias("host"),
            F.parse_url("u", F.lit("PATH")).alias("path"),
            F.parse_url("u", F.lit("QUERY"), F.lit("pri")).alias("pri"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("path").alias("n_paths"),
            F.countDistinct("pri").alias("n_priorities"),
        )
    )


#: PII patterns (shared Spark/DuckDB syntax subset — character classes,
#: bounded quantifiers; no lookaround, so Java regex and RE2 agree).
#: Redaction order matters: SSN first, so the phone pattern can never
#: bite into an SSN's digit groups.
_PII_PATTERNS = [
    ("ssn", r"\d{3}-\d{2}-\d{4}", "[SSN]"),
    ("phone", r"\+\d{1,2}-\d{3}-\d{4}", "[PHONE]"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
]


def redact_pii(col):
    """Chained JVM-side regexp_replace over the PII pattern battery —
    the scrubbing operator itself (codegen, zero Python): every match
    of every pattern is replaced by its tag, SSNs before phones so
    digit-group overlap can't leak a partial SSN."""
    out = col
    for _, pat, tag in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


@query(
    "q_text_redact_pii",
    oracle="""
    WITH aug AS (
        SELECT source,
               CASE WHEN doc_id % 3 = 0 THEN
                    text || ' Contact: user' || CAST(doc_id AS VARCHAR)
                         || '@example.com call +1-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         || ' ssn 123-45-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS t,
               (doc_id % 3 = 0) AS has_pii
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_with_pii,
           CAST(sum(len(regexp_extract_all(t,
               '\\d{3}-\\d{2}-\\d{4}'))) AS BIGINT) AS n_ssns,
           CAST(sum(len(regexp_extract_all(t,
               '\\+\\d{1,2}-\\d{3}-\\d{4}'))) AS BIGINT) AS n_phones,
           CAST(sum(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')))
               AS BIGINT) AS n_emails,
           CAST(sum(length(t)
               - length(regexp_replace(regexp_replace(regexp_replace(t,
                   '\\d{3}-\\d{2}-\\d{4}', '[SSN]', 'g'),
                   '\\+\\d{1,2}-\\d{3}-\\d{4}', '[PHONE]', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g'))) AS BIGINT) AS chars_removed,
           true AS all_clean
    FROM aug
    GROUP BY source
    """,
)
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION — the compliance scrub every LLM training corpus
    runs before tokenization: emails, phone numbers, and SSN-shaped
    ids replaced by typed tags, per-source audit counts emitted. The
    fixture word-soup carries no organic PII, so a deterministic
    doc_id-derived contact block is injected into every third document
    FIRST (the oracle replays the same injection), and the graded
    ``all_clean`` flag proves the REDACTED text matches zero PII
    patterns afterward — the property a compliance gate actually
    checks.

    Plan shape: chained ``regexp_replace``/``regexp_extract_all`` —
    whole-stage-codegen JVM regex, zero Python UDFs, embarrassingly
    parallel over the scan; counts aggregate map-side. At 100 TB the
    scrub is scan-bound, exactly as it should be. Pattern battery is
    the shared Java-regex/RE2 syntax subset so both engines match
    byte-identically; SSN redacts before phone so digit-group overlap
    can't leak.
    """
    d = load(spark, sf_dir, "documents")
    k = F.col("doc_id")
    aug = d.select(
        "source",
        (k % 3 == 0).alias("has_pii"),
        F.when(
            k % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" Contact: user"),
                k.cast("string"),
                F.lit("@example.com call +1-555-"),
                F.lpad((k % 10000).cast("string"), 4, "0"),
                F.lit(" ssn 123-45-"),
                F.lpad((k % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    red = aug.withColumn("clean", redact_pii(F.col("t")))
    counts = [
        F.sum(F.size(F.regexp_extract_all(F.col("t"), F.lit(pat), F.lit(0))))
        .cast("bigint")
        .alias(f"n_{name}s")
        for name, pat, _ in _PII_PATTERNS
    ]
    leftovers = [
        F.sum(F.size(F.regexp_extract_all(F.col("clean"), F.lit(pat), F.lit(0))))
        for _, pat, _ in _PII_PATTERNS
    ]
    agg = red.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("has_pii").cast("int")).cast("bigint").alias("n_docs_with_pii"),
        *counts,
        (F.sum(F.length("t") - F.length("clean")))
        .cast("bigint")
        .alias("chars_removed"),
        sum(leftovers[1:], leftovers[0]).alias("__leftover"),
    )
    # the graded compliance property: NOTHING matches after redaction
    all_clean = agg.agg(F.max("__leftover")).first()[0] == 0
    return agg.drop("__leftover").withColumn("all_clean", F.lit(all_clean))


@query(
    "q_text_repetition_stats",
    oracle="""
    WITH per_doc AS (
        SELECT d.doc_id, d.source,
               len(string_split(d.text, ' ')) AS n_tok,
               len(list_distinct(string_split(d.text, ' '))) AS n_uniq,
               (SELECT max(cnt) FROM (
                    SELECT count(*) AS cnt FROM (
                        SELECT word || ' ' ||
                               lead(word) OVER (ORDER BY pos) AS bg
                        FROM (SELECT unnest(string_split(d.text, ' ')) AS word,
                                     generate_subscripts(
                                         string_split(d.text, ' '), 1) AS pos)
                    ) WHERE bg IS NOT NULL GROUP BY bg
               )) AS top_bigram_n
        FROM documents d
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tok - n_uniq) AS BIGINT) AS dup_tokens,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(max(top_bigram_n) AS BIGINT) AS max_top_bigram,
           CAST(sum(CASE WHEN (n_tok - n_uniq) * 10 > n_tok * 7
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM per_doc
    GROUP BY source
    """,
)
def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPETITION QUALITY SIGNALS (the Gopher-rules family): per
    document, the duplicate-token mass (n_tokens − n_distinct) and the
    most-repeated-bigram count; per source, the corpus rollup plus a
    ``n_flagged`` count of documents whose duplicate fraction exceeds
    0.7 — the "degenerate repetition" gate an LLM pipeline applies
    before training. The threshold compare is INTEGER cross-multiplied
    (dup*10 > n*7), so there is no float boundary to disagree on.

    Plan shape: one explode per document for the bigram mass (built
    array-side: adjacent-slot concat, no token-stream window shuffle),
    distinct counts via ``array_distinct`` inside the projection —
    map-side work, one hash aggregate by source. Scan-bound at 100 TB.
    """
    d = load(spark, sf_dir, "documents")
    # Round-15 (guide §2.3/§2.4) removed the bigram explode shuffle by
    # folding the sorted bigram array map-side. Round-16 (guide §4.2):
    # that interpreted HOF fold (array_sort + per-slot struct fold, not
    # codegen'd) was the remaining cost — the per-doc stats are all
    # INTEGERS (token count, distinct count, max bigram multiplicity),
    # so one Arrow-batched kernel computes the identical values with a
    # hash counter per doc; the rollup below is unchanged. Tokens split
    # on a literal space exactly like F.split (leading/trailing empties
    # kept by both); bigram tuples have the same multiplicities as the
    # concat_ws strings (tokens cannot contain the separator).
    def _rep_kernel(batches):
        from collections import Counter

        import pyarrow as pa

        for rb in batches:
            n_tok, n_uniq, top = [], [], []
            for t in rb.column(1).to_pylist():
                toks = t.split(" ")
                n_tok.append(len(toks))
                n_uniq.append(len(set(toks)))
                if len(toks) > 1:
                    top.append(max(Counter(zip(toks, toks[1:])).values()))
                else:
                    top.append(0)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    pa.array(n_tok, pa.int32()),
                    pa.array(n_uniq, pa.int32()),
                    pa.array(top, pa.int32()),
                ],
                ["source", "n_tok", "n_uniq", "top_bigram_n"],
            )

    per_doc = d.select("source", "text").mapInArrow(
        _rep_kernel,
        "source string, n_tok int, n_uniq int, top_bigram_n int",
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tok") - F.col("n_uniq")).cast("bigint").alias("dup_tokens"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.max("top_bigram_n").cast("bigint").alias("max_top_bigram"),
        F.sum(
            (
                (F.col("n_tok") - F.col("n_uniq")) * 10 > F.col("n_tok") * 7
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_flagged"),
    )


@query(
    "q_corpus_mix_sample",
    oracle="""
    WITH w AS (
        SELECT source, count(*) AS n_avail,
               CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2
                    ELSE 1 END AS wt
        FROM documents GROUP BY source
    ),
    alloc AS (
        SELECT source, n_avail, wt,
               least(n_avail,
                     CAST(floor((sum(n_avail) OVER ()) / 5 * wt
                          / (sum(wt) OVER ())) AS BIGINT)) AS target
        FROM w
    ),
    ranked AS (
        SELECT d.source, d.doc_id,
               len(string_split(d.text, ' ')) AS n_tok,
               row_number() OVER (PARTITION BY d.source
                                  ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                           d.doc_id) AS rk
        FROM documents d
    )
    SELECT a.source, a.n_avail, a.target AS n_sampled,
           CAST(sum(r.n_tok) AS BIGINT) AS tokens_sampled
    FROM alloc a JOIN ranked r
      ON r.source = a.source AND r.rk <= a.target
    GROUP BY a.source, a.n_avail, a.target
    """,
)
def q_corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-MIXTURE SAMPLING — the "20% of the corpus at 4:2:1
    source weights" step that turns a raw crawl into a training mix:
    integer weight allocation (floor of budget·w/Σw, capped at
    availability) feeds a DETERMINISTIC exact-k per-source pick ranked
    by md5(doc_id) — reproducible across engines, runs, and
    partitionings, unlike rand(seed) or TABLESAMPLE. Emits the
    per-source audit (available, sampled, token mass) a mixture report
    needs.

    Plan shape: the allocation is a #sources-row frame (unpartitioned
    window over kilobytes — fine); the pick is one WindowGroupLimit
    shuffle on source; the allocation broadcast-joins back. All
    integer math — no float boundary can disagree.
    """
    d = load(spark, sf_dir, "documents")
    wt = (
        F.when(F.col("source") == "src0", 4)
        .when(F.col("source") == "src1", 2)
        .otherwise(1)
    )
    wall = Window.partitionBy()
    alloc = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_avail"))
        .withColumn("wt", wt)
        .withColumn(
            "target",
            F.least(
                F.col("n_avail"),
                F.floor(
                    F.sum("n_avail").over(wall)
                    / 5
                    * F.col("wt")
                    / F.sum("wt").over(wall)
                ).cast("bigint"),
            ),
        )
    )
    rk = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tok"),
    ).withColumn("rk", F.row_number().over(rk))
    return (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("rk") <= F.col("target"))
        .groupBy("source", "n_avail", F.col("target").alias("n_sampled"))
        .agg(F.sum("n_tok").cast("bigint").alias("tokens_sampled"))
        .select("source", "n_avail", "n_sampled", "tokens_sampled")
    )


@query(
    "q_text_vocab_coverage",
    oracle="""
    WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS t
                  FROM documents),
    vocab AS (SELECT t FROM toks GROUP BY t
              ORDER BY count(*) DESC, t LIMIT 20),
    cov AS (SELECT lang, count(*) AS n_occ,
                   count(*) FILTER (t IN (SELECT t FROM vocab)) AS n_cov
            FROM toks GROUP BY lang)
    SELECT lang,
           CAST(n_occ AS BIGINT) AS n_occurrences,
           CAST(n_cov AS BIGINT) AS n_covered,
           round(CAST(n_cov AS DOUBLE) / n_occ, 6) AS coverage
    FROM cov ORDER BY lang
    """,
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage (OOV rate) per language.

    The go/no-go metric before committing to a tokenizer vocab: build
    the top-K token vocabulary from the corpus itself (count DESC,
    token ASC — the unique tiebreak keeps the cut deterministic at the
    rank-K boundary), then measure what fraction of token OCCURRENCES
    each language's text covers. Coverage is a single division of two
    exact integer sums finished at 6 dp — no float accumulation, so the
    ratio is engine-exact.

    Scale shape: explode → one global hash agg for the vocab (tiny:
    vocab size bounds the result, not the corpus) → TakeOrdered top-K →
    BROADCAST semi-probe of the exploded tokens (the vocab is K rows —
    never a shuffle join) → per-lang hash agg. At 100 TB the only big
    shuffles are the two token aggs, both map-side combinable to
    |vocab| × |langs| grains.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("t"))
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("t"))
        .limit(20)
        .select("t")
    )
    marked = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), on="t", how="left"
    )
    return (
        marked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count("in_vocab").alias("n_covered"),
        )
        .select(
            "lang",
            "n_occurrences",
            "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_occurrences"), 6
            ).alias("coverage"),
        )
        .orderBy("lang")
    )


@query(
    "q_text_normalize_nfc",
    oracle="""
    WITH raw AS (
        SELECT doc_id,
               'Cafe' || chr(769) || ' ' || chr(8491) || ': ' || text AS s
        FROM documents
    )
    SELECT doc_id,
           length(s) AS n_chars_raw,
           length(nfc_normalize(s)) AS n_chars_nfc,
           md5(nfc_normalize(s)) AS nfc_md5,
           nfc_normalize(s) <> s AS changed
    FROM raw
    ORDER BY doc_id
    """,
)
def q_text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE NFC NORMALIZATION — the canonicalization step every text
    corpus runs before dedup/fingerprinting (a decomposed 'e'+U+0301
    and a composed U+00E9 render identically but hash differently;
    unnormalized corpora under-deduplicate). No JVM builtin exists, so
    this is the module's one sanctioned Python op: an Arrow-batched
    pandas UDF over ``unicodedata.normalize('NFC', ...)`` — batch
    transfer, zero per-row Python overhead beyond the normalize call.

    Each document is prefixed with a deterministic denormalized probe
    (combining acute + the U+212B angstrom sign, both of which NFC
    rewrites) so the op does real composition work on every row, and
    the FULL normalized string is pinned bit-exactly via md5 against
    DuckDB's native ``nfc_normalize`` — two independent NFC
    implementations (Python's unicodedata vs utf8proc) agreeing on
    every byte, plus code-point lengths before/after and a changed
    flag.

    Scale: map-only, no shuffle; the UDF boundary transfers one string
    column each way per Arrow batch. At 100 TB this pipelines with the
    scan exactly like the PII regex battery."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unicodedata.normalize("NFC", x))

    probe = "Café Å: "
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit(probe), F.col("text")).alias("s")
    )
    n = d.withColumn("nfc", nfc("s"))
    return n.select(
        "doc_id",
        F.length("s").alias("n_chars_raw"),
        F.length("nfc").alias("n_chars_nfc"),
        F.md5("nfc").alias("nfc_md5"),
        (F.col("nfc") != F.col("s")).alias("changed"),
    ).orderBy("doc_id")
