"""LLM training-data preparation operators (SURVEY.md §2.11 extensions).

The ops a 100-TB pretraining pipeline runs between raw corpus and
tokenizer: overlapping chunking, weighted corpus mixing, train/eval
contamination checks, PII redaction, and sequence packing. All built
from JVM-side DataFrame primitives (split/slice/zip_with/explode/window)
— no Python in any hot path — and all SQL-oracled.

Scale notes are per-operator; the common theme: every shuffle is keyed
on (doc-sized) grains that hash-partition evenly, and the only window
functions are partitioned ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import exact, finish, sql_exact, sql_finish_dbl, sql_finish_dec
from ..registry import query
from ..sources.tables import load


def _kgrams(tokens, k: int):
    """Distinct word k-grams as strings (generalizes dedup._shingles).

    Built from k shifted slices zipped together — NOT per-index
    element_at, which re-evaluates the split per gram under
    CollapseProject (measured in round 1, dedup.py). The greatest()
    clamp keeps docs with < k tokens at an empty gram list instead of a
    negative-length slice error.
    """
    n = F.greatest(F.size(tokens) - (k - 1), F.lit(0))
    acc = F.slice(tokens, 1, n)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(tokens, j + 1, n), lambda x, y: F.concat_ws(" ", x, y)
        )
    return F.array_distinct(acc)


#: chunking grid: 40-token windows advancing 30 tokens (10-token overlap).
_CHUNK, _STRIDE = 40, 30


@query(
    "q_chunk_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS tk
        FROM documents
    )
    SELECT doc_id, lang,
           cast(s.i // {_STRIDE} as int) AS chunk_id,
           cast(len(tk[s.i + 1 : s.i + {_CHUNK}]) as int) AS n_chunk_tokens,
           array_to_string(tk[s.i + 1 : s.i + {_CHUNK}], ' ') AS chunk_text
    FROM toks,
         LATERAL (
             SELECT unnest(generate_series(
                 0,
                 ((greatest(len(tk) - {_CHUNK}, 0) + {_STRIDE} - 1)
                  // {_STRIDE}) * {_STRIDE},
                 {_STRIDE})) AS i
         ) s
    """,
)
def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping token-window chunks.

    The standard context-window prep: 40-token chunks, stride 30, so
    consecutive chunks share a 10-token overlap; a doc shorter than one
    window yields exactly one chunk. Explodes only the chunk-start axis
    (sequence → posexplode) and slices the token array per start —
    row count grows ~n_tokens/stride, embarrassingly parallel, and the
    chunk text is re-joined to a scalar string (driver canonicalizer
    contract). At 100 TB this is a pure map stage: no shuffle at all.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.split("text", " ").alias("tk"))
    # last start CEILS to the next stride multiple ≥ n-window: a floor
    # grid drops the tail tokens whenever (n - window) isn't a stride
    # multiple (caught by tests/test_invariants.py coverage check); the
    # final chunk simply truncates at the doc end.
    overhang = F.greatest(F.size("tk") - _CHUNK, F.lit(0))
    last_start = (
        F.floor((overhang + (_STRIDE - 1)) / _STRIDE) * _STRIDE
    ).cast("int")
    starts = F.sequence(F.lit(0), last_start, F.lit(_STRIDE))
    exploded = toks.select(
        "doc_id", "lang", "tk", F.explode(starts).alias("start")
    )
    chunk = F.slice(F.col("tk"), F.col("start") + 1, _CHUNK)
    return exploded.select(
        "doc_id",
        "lang",
        (F.col("start") / _STRIDE).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


#: target corpus mix, permille kept per language (en-heavy pretraining mix).
_MIX_PERMILLE = {"en": 900, "de": 500, "fr": 500, "es": 300}
_MIX_DEFAULT = 200
#: Knuth multiplicative constant — portable deterministic hash, identical
#: integer arithmetic in Spark and DuckDB (no engine hash function).
_KNUTH = 2654435761


def _mix_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {pm}" for lang, pm in _MIX_PERMILLE.items()
    )
    return f"CASE {whens} ELSE {_MIX_DEFAULT} END"


@query(
    "q_corpus_mix_weighted",
    bench=False,
    oracle=f"""
    SELECT lang,
           count(*) AS n_total,
           count(*) FILTER (
               (doc_id * {_KNUTH}) % 1000 < {_mix_case_sql()}
           ) AS n_kept
    FROM documents
    GROUP BY lang
    """,
)
def q_corpus_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus mixing (per-language keep rates).

    Pretraining mixes re-weight sources/languages; sampling must be
    deterministic and engine-portable, so the keep decision is pure
    integer arithmetic — (doc_id · Knuth) mod 1000 < permille(lang) —
    not rand() or an engine hash. One map-side pass plus a per-lang
    aggregate; at 100 TB the filter fuses into the scan and the
    aggregate is map-side-combined into a handful of groups.
    """
    d = load(spark, sf_dir, "documents")
    permille = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(pm))
            for lang, pm in _MIX_PERMILLE.items()
        ],
        F.lit(_MIX_DEFAULT),
    )
    kept = (F.col("doc_id") * _KNUTH) % 1000 < permille
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(kept, 1)).alias("n_kept"),
    )


@query(
    "q_contamination_ngram",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
    ),
    grams AS (
        SELECT doc_id, lang,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(tk) - 4),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                        || ' ' || tk[i+3] || ' ' || tk[i+4]
               ))) AS gram
        FROM toks
    ),
    train AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 <> 0),
    contaminated AS (
        SELECT DISTINCT g.doc_id, g.lang
        FROM grams g JOIN train t ON g.gram = t.gram
        WHERE g.doc_id % 10 = 0
    )
    SELECT e.lang,
           count(*) AS n_eval_docs,
           count(c.doc_id) AS n_contaminated
    FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 10 = 0) e
    LEFT JOIN contaminated c ON c.doc_id = e.doc_id
    GROUP BY e.lang
    """,
)
def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check via 5-gram overlap.

    The held-out split (doc_id % 10 = 0 stands in for an eval set) is
    scanned for any 5-gram that also appears in the training split —
    the standard decontamination pass before training. Plan: both sides
    explode to (gram, doc) rows, the train side distinct-reduces, and a
    semi-join on the gram key marks contaminated eval docs. The gram
    join key hash-partitions evenly (grams are near-unique), so the
    shuffle scales linearly; at 100 TB you'd hash grams to 64-bit ints
    (xxhash64) to shrink shuffle bytes — same plan shape, kept as
    strings here for oracle parity.
    """
    d = load(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        "lang",
        F.explode(_kgrams(F.split("text", " "), 5)).alias("gram"),
    )
    train = (
        grams.filter(F.col("doc_id") % 10 != 0).select("gram").distinct()
    )
    eval_grams = grams.filter(F.col("doc_id") % 10 == 0)
    contaminated = (
        eval_grams.join(train, on="gram", how="left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(1))
    )
    eval_docs = d.filter(F.col("doc_id") % 10 == 0).select("doc_id", "lang")
    return (
        eval_docs.join(contaminated, on="doc_id", how="left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_eval_docs"),
            F.count("is_cont").alias("n_contaminated"),
        )
    )


_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.]+"
_PHONE_RE = r"555-[0-9]{4}"


@query(
    "q_pii_redact",
    bench=False,
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, lang,
               text
               || CASE WHEN doc_id % 17 = 0
                       THEN ' contact user' || doc_id || '@example.com now'
                       ELSE '' END
               || CASE WHEN doc_id % 23 = 0
                       THEN ' call 555-' || lpad(cast(doc_id % 10000 as varchar), 4, '0')
                       ELSE '' END AS t
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           count(*) FILTER (len(regexp_extract_all(t, '{_EMAIL_RE}')) > 0
                            OR len(regexp_extract_all(t, '{_PHONE_RE}')) > 0)
               AS n_docs_with_pii,
           cast(sum(len(regexp_extract_all(t, '{_EMAIL_RE}'))) as bigint)
               AS n_emails,
           cast(sum(len(regexp_extract_all(t, '{_PHONE_RE}'))) as bigint)
               AS n_phones,
           cast(sum(length(regexp_replace(
                   regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g'))) as bigint)
               AS redacted_chars
    FROM aug
    GROUP BY lang
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex-redact emails/phone patterns, count hits.

    The fixtures carry no organic PII, so deterministic synthetic
    addresses/numbers are appended to a doc_id-keyed subset first —
    non-degenerate at every SF — then redacted with the same regexes on
    both engines (Spark replaces all matches by default; DuckDB needs
    the 'g' flag). Pure map-side regex work over the scan + a small
    per-lang rollup: the 100-TB plan is one pass, no shuffle beyond the
    final tiny aggregate.
    """
    d = load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 23 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", "lang", aug.alias("t"))
    n_em = F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), F.lit(0)))
    n_ph = F.size(F.regexp_extract_all(F.col("t"), F.lit(_PHONE_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when((n_em > 0) | (n_ph > 0), 1)).alias("n_docs_with_pii"),
        F.sum(n_em).cast("bigint").alias("n_emails"),
        F.sum(n_ph).cast("bigint").alias("n_phones"),
        F.sum(F.length(redacted)).alias("redacted_chars"),
    )


#: sequence-packing capacity (tokens per packed training sequence).
_PACK_CAP = 512


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    binned AS (
        SELECT lang, doc_id, n_tok,
               cast((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    // {_PACK_CAP} as bigint) AS bin_id
        FROM sized
    )
    SELECT lang, bin_id,
           count(*) AS n_docs,
           cast(sum(n_tok) as bigint) AS sum_tokens,
           min(doc_id) AS first_doc_id
    FROM binned
    GROUP BY lang, bin_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: fill 512-token training bins per language.

    Contiguous-fill packing (the streaming approximation of bin
    packing): docs ordered by doc_id fill bins by exclusive running
    token count div capacity — deterministic, window-expressible, no
    per-bin reset recursion. A bin may overflow by one straddling doc's
    remainder; true first-fit would need stateful iteration
    (applyInPandas) for a ~2% density gain. The window partitions by
    lang; at heavy per-lang volume, sub-shard exactly like
    q_stream_watermark_late's two-pass prefix scan (per-shard cumsum +
    broadcast shard-boundary offsets) — same construction, documented
    once there.
    """
    d = load(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    binned = sized.withColumn(
        "bin_id",
        ((F.sum("n_tok").over(w) - F.col("n_tok")) / _PACK_CAP).cast("bigint"),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


@query(
    "q_quality_repetition",
    bench=False,
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, tok, count(*) AS cnt
        FROM t GROUP BY doc_id, lang, tok
    ),
    uni AS (
        SELECT doc_id, lang,
               max(cnt) AS mx, sum(cnt) AS n, count(*) AS dn
        FROM c GROUP BY doc_id, lang
    ),
    bi AS (
        SELECT doc_id,
               greatest(len(string_split(text, ' ')) - 1, 0) AS total2,
               len(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' '
                        || string_split(text, ' ')[i+1]
               ))) AS dn2
        FROM documents
    )
    SELECT uni.doc_id, uni.lang,
           cast(n as bigint) AS n_tokens,
           cast(mx as double) / cast(n as double) AS top_token_mass,
           cast(dn as double) / cast(n as double) AS ttr,
           CASE WHEN total2 > 0
                THEN 1.0 - cast(dn2 as double) / cast(total2 as double)
                ELSE 0.0 END AS dup_bigram_frac,
           (cast(mx as double) / cast(n as double) > 0.2
            OR cast(dn as double) / cast(n as double) < 0.5
            OR (total2 > 0
                AND 1.0 - cast(dn2 as double) / cast(total2 as double) > 0.3))
               AS is_lowq
    FROM uni JOIN bi ON bi.doc_id = uni.doc_id
    """,
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals, per document.

    The pretraining quality gate's repetition family: top-token mass
    (max unigram count / tokens), type-token ratio, and duplicate-bigram
    fraction, plus the composite low-quality flag. Unigram stats need a
    per-(doc, token) count → one shuffle keyed on (doc_id, token) then
    (doc_id) — near-unique keys, even partitions; bigram stats fold
    array-side per row (zip_with + array_distinct), no shuffle at all.
    Ratios are exact IEEE divisions of integer counts — identical in
    both engines, so the flag thresholds compare safely.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    uni = (
        toks.groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id", "lang")
        .agg(
            F.max("cnt").alias("mx"),
            F.sum("cnt").alias("n"),
            F.count(F.lit(1)).alias("dn"),
        )
    )
    tk = F.split("text", " ")
    m = F.greatest(F.size(tk) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(tk, 1, m), F.slice(tk, 2, m), lambda x, y: F.concat_ws(" ", x, y)
    )
    bi = d.select(
        "doc_id",
        m.alias("total2"),
        F.size(F.array_distinct(bigrams)).alias("dn2"),
    )
    top_mass = F.col("mx").cast("double") / F.col("n").cast("double")
    ttr = F.col("dn").cast("double") / F.col("n").cast("double")
    dup2 = F.when(
        F.col("total2") > 0,
        1.0 - F.col("dn2").cast("double") / F.col("total2").cast("double"),
    ).otherwise(F.lit(0.0))
    return uni.join(bi, on="doc_id").select(
        "doc_id",
        "lang",
        F.col("n").cast("bigint").alias("n_tokens"),
        top_mass.alias("top_token_mass"),
        ttr.alias("ttr"),
        dup2.alias("dup_bigram_frac"),
        ((top_mass > 0.2) | (ttr < 0.5) | (dup2 > 0.3)).alias("is_lowq"),
    )


#: Near-dup fingerprint: the first 8 tokens of a document. The cheap
#: "document head" key real crawl pipelines use before MinHash — the
#: fixture's near-duplicates share their head even when tails drift.
_FP_TOKENS = 8
_FP_SPARK = lambda: F.concat_ws(  # noqa: E731 — tiny column factory
    " ", F.slice(F.split("text", " "), 1, _FP_TOKENS)
)
_FP_SQL = f"array_to_string(string_split(text, ' ')[1:{_FP_TOKENS}], ' ')"


@query(
    "q_text_unigram_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tot AS (SELECT count(*) AS n_total FROM toks),
    vocab AS (SELECT token, count(*) AS n_tok FROM toks GROUP BY token),
    scored AS (
        SELECT token,
               {sql_finish_dbl(
                   '-ln(cast(n_tok as double) / cast(n_total as double))', 6
               )} AS surprise
        FROM vocab, tot
    )
    SELECT t.doc_id, t.lang,
           count(*) AS n_tokens,
           {sql_finish_dec(f'sum({sql_exact("s.surprise")})', 6)} / count(*)
               AS avg_surprise
    FROM toks t JOIN scored s USING (token)
    GROUP BY t.doc_id, t.lang
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: mean unigram surprisal per doc.

    The CCNet-style LM filter with the LM reduced to the corpus's own
    unigram distribution: surprise(token) = -ln(count/total), scored
    once per VOCAB entry, then joined back onto token occurrences and
    averaged per document. High avg_surprise = rare-token soup (noise),
    low = repetitive boilerplate — both tails get cut in practice.

    Parity: ln() is libm-dependent, so each vocab entry's surprisal is
    finished to 6 dp BEFORE the per-doc aggregation; the per-doc sum
    accumulates those exact 6-dp values in DECIMAL (order-independent),
    and the final mean is a quotient of identical doubles (no finish —
    functions/numeric.py rule 5).

    Scale: the expensive side (one row per token occurrence) never
    shuffles twice — vocab is Zipf-small and BROADCAST back onto the
    occurrence stream (a shuffle join keyed on token would put every
    occurrence of the hottest word in one partition). At 100 TB the
    broadcast caps at top-K vocab + an OOV default bucket.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tot = toks.agg(F.count(F.lit(1)).alias("n_total"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    scored = vocab.crossJoin(F.broadcast(tot)).select(
        "token",
        finish(
            -F.log(F.col("n_tok").cast("double") / F.col("n_total").cast("double")),
            6,
        ).alias("surprise"),
    )
    return (
        toks.join(F.broadcast(scored), on="token")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                finish(F.sum(exact(F.col("surprise"))), 6)
                / F.count(F.lit(1))
            ).alias("avg_surprise"),
        )
    )


@query(
    "q_source_contamination_matrix",
    oracle=f"""
    WITH fps AS (
        SELECT DISTINCT {_FP_SQL} AS fp, source FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def q_source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: which sources copy from which.

    For every near-dup fingerprint (8-token document head) seen in 2+
    sources, emit each unordered source pair once and count shared
    fingerprints — the audit that tells a corpus curator which crawl
    feeds are mirrors of each other before they over-weight a domain.

    Scale: deliberately NOT the oracle's self-join (a fingerprint shared
    by a viral page across hundreds of sources makes the join quadratic
    per hot key). One shuffle on fp, collect the ≤|sources| distinct
    source set per fp, and expand C(s,2) pairs array-side — bounded by
    the source-universe size, never by corpus row count.
    """
    d = load(spark, sf_dir, "documents")
    per_fp = (
        d.select(_FP_SPARK().alias("fp"), "source")
        .distinct()
        .groupBy("fp")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    n = F.size(F.col("srcs"))
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: F.struct(
                    F.element_at(F.col("srcs"), i).alias("a"),
                    F.element_at(F.col("srcs"), j).alias("b"),
                ),
            ),
        )
    )
    return (
        per_fp.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


@query(
    "q_corpus_train_report",
    oracle=f"""
    WITH staged AS (
        SELECT lang, source,
               cast(len(string_split(text, ' ')) as int) AS n_words,
               cast(len(list_distinct(string_split(text, ' '))) as int)
                   AS n_uniq,
               row_number() OVER (
                   PARTITION BY {_FP_SQL} ORDER BY doc_id
               ) AS rn
        FROM documents
    ),
    flagged AS (
        SELECT lang, source, n_words,
               rn > 1 AS is_dup,
               NOT (n_words >= 30 AND n_uniq * 10 >= n_words * 4)
                   AS is_lowq
        FROM staged
    )
    SELECT lang, source,
           count(*) AS n_docs,
           count(*) FILTER (is_dup) AS n_dropped_dup,
           count(*) FILTER (NOT is_dup AND is_lowq) AS n_dropped_quality,
           count(*) FILTER (NOT is_dup AND NOT is_lowq) AS n_kept,
           cast(coalesce(sum(n_words)
                    FILTER (NOT is_dup AND NOT is_lowq), 0) as bigint)
               AS n_kept_tokens
    FROM flagged
    GROUP BY lang, source
    """,
)
def q_corpus_train_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel report: what survives into training.

    Chains the pipeline's gate decisions — near-dup removal (keep the
    lowest doc_id per 8-token-head fingerprint), then a quality gate
    (≥30 tokens AND type/token ratio ≥ 0.4, compared cross-multiplied
    in integers so no float ratio can flip a doc across engines) — and
    rolls the outcome up per (lang, source): docs in, dropped at each
    stage, kept, and the surviving token budget.

    Scale: one window shuffle keyed on the fingerprint (the dedup
    grain — high cardinality, hash-partitions evenly), gates are
    map-side integer arithmetic, and the final rollup reduces to
    |langs|x|sources| rows with map-side partials.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    staged = d.select(
        "lang",
        "source",
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.row_number()
        .over(Window.partitionBy(_FP_SPARK()).orderBy("doc_id"))
        .alias("rn"),
    )
    flagged = staged.select(
        "lang",
        "source",
        "n_words",
        (F.col("rn") > 1).alias("is_dup"),
        (
            ~(
                (F.col("n_words") >= 30)
                & (F.col("n_uniq") * 10 >= F.col("n_words") * 4)
            )
        ).alias("is_lowq"),
    )
    kept = ~F.col("is_dup") & ~F.col("is_lowq")
    return flagged.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("is_dup")).alias("n_dropped_dup"),
        F.count_if(~F.col("is_dup") & F.col("is_lowq")).alias(
            "n_dropped_quality"
        ),
        F.count_if(kept).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(kept, F.col("n_words"))), F.lit(0)
        ).cast("bigint").alias("n_kept_tokens"),
    )


def _bpe_train_oracle(n_rounds: int) -> str:
    """DuckDB replay of the ENTIRE training loop for ``n_rounds``
    merges (every CTE MATERIALIZED — DuckDB otherwise inlines the
    round chain, doubling base scans per round: 2^10 re-scans ran the
    box out of file descriptors): word-type counts, the double-space
    symbol encoding (the
    q_bpe_apply trick — applying merge (l, r) leftmost-scan is the
    literal replace(' l  r ' → ' lr ')), per-round pair counts with
    the (count desc, left, right) argmax, and the chained re-encoding.
    The fold-equivalence argument from q_bpe_apply carries over: the
    trainer's array fold and this string replace produce identical
    segmentations round for round."""
    parts = ["""
    WITH words AS MATERIALIZED (
        SELECT w, count(*) AS cnt FROM (
            SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS w
            FROM documents
        ) GROUP BY w
    ),
    v0 AS MATERIALIZED (
        SELECT cnt,
               concat(regexp_replace(w, '(.)', ' \\1 ', 'g'), ' </w> ')
                   AS enc
        FROM words
    )"""]
    for k in range(1, n_rounds + 1):
        parts.append(f""",
    p{k} AS MATERIALIZED (
        SELECT lft, rgt, cast(sum(cnt) as bigint) AS pc FROM (
            SELECT cnt, l[i] AS lft, l[i + 1] AS rgt
            FROM (
                SELECT cnt, l,
                       unnest(generate_series(1, len(l) - 1)) AS i
                FROM (SELECT cnt,
                             string_split(trim(enc), '  ') AS l
                      FROM v{k - 1})
            )
        ) GROUP BY lft, rgt
    ),
    m{k} AS MATERIALIZED (
        SELECT lft, rgt, pc FROM p{k}
        ORDER BY pc DESC, lft ASC, rgt ASC LIMIT 1
    ),
    v{k} AS MATERIALIZED (
        SELECT cnt,
               replace(enc,
                       ' ' || (SELECT lft FROM m{k}) || '  '
                           || (SELECT rgt FROM m{k}) || ' ',
                       ' ' || (SELECT lft FROM m{k})
                           || (SELECT rgt FROM m{k}) || ' ') AS enc
        FROM v{k - 1}
    )""")
    selects = " UNION ALL ".join(
        f"SELECT cast({k} as int) AS merge_rank, lft AS \"left\","
        f" rgt AS \"right\", pc AS pair_count FROM m{k}"
        for k in range(1, n_rounds + 1)
    )
    return "".join(parts) + f" {selects} ORDER BY merge_rank"


@query("q_bpe_train_merges", bench=False, oracle=_bpe_train_oracle(10))
# Round-16 (VERDICT r15 item 9): the production 10-round trainer now
# carries the same chained-CTE replay oracle the 3-round portable twin
# proved out — the replay is linear in rounds over the word-type table,
# so 10 rounds stays cheap at the driver's sf0.01 gate.
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first 10 BPE merges over the corpus — the Sennrich
    byte-pair-encoding loop every tokenizer build runs, distributed the
    way it actually distributes at 100 TB:

      1. ONE corpus-scale pass: word → count (the only big shuffle;
         map-side combined hash agg, exactly q_dedup_exact's shape).
      2. The merge loop then operates on the WORD-TYPE table (vocab),
         which is corpus-size-independent (~10⁵-10⁶ types vs 10¹²
         tokens): per round, explode each type's adjacent symbol pairs
         weighted by count, hash-agg pair frequencies, collect the ONE
         argmax row (count desc, then lexicographic — deterministic
         ties), and rewrite the symbol arrays with a leftmost-scan
         fold (F.aggregate — pure JVM, no UDF). localCheckpoint caps
         lineage per round, the pagerank/kmeans driver-loop pattern;
         driver state is O(1) per round.

    The fold IS the textbook leftmost merge scan: popping the
    accumulator tail when (tail, next) equals the chosen pair never
    re-merges a just-merged token (its string differs from `left`
    whenever `right` is non-empty), so fold(word) == scan(word) — the
    invariant test proves the full merge SEQUENCE equals a pure-Python
    reference BPE run exactly (tests/test_invariants.py::
    test_bpe_train_matches_reference). Rows-only: 10 rounds of
    data-dependent argmax + string rewriting have no SQL-expressible
    form; the exact Python-reference equality is the stronger check —
    and the 3-round q_bpe_train_portable twin additionally proves the
    loop's mechanics against a full SQL replay.
    """
    return spark.createDataFrame(
        _train_merges(spark, sf_dir, 10),
        "merge_rank int, left string, right string, pair_count bigint",
    )


def _train_merges(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The distributed Sennrich loop shared by q_bpe_train_merges (10
    rounds, rows-only, Python-reference-proven) and
    q_bpe_train_portable (3 rounds, full SQL-oracle replay)."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # regexp_extract_all('.'), not split("(?!^)"): the lookahead regex
    # also matches the END position and Spark's split (unlike Java's)
    # keeps the trailing empty string, planting a phantom '' symbol in
    # every word (caught by the reference-equality test).
    vocab = words.select(
        "cnt",
        F.concat(
            F.regexp_extract_all(F.col("w"), F.lit("."), 0),
            F.array(F.lit("</w>")),
        ).alias("syms"),
    ).localCheckpoint()  # row-cap: distinct-word vocabulary (Heaps-sublinear), driver-loop state

    merges = []
    for rank in range(1, n_merges + 1):
        n = F.size("syms")
        pairs = vocab.select(
            "cnt",
            F.explode(
                F.arrays_zip(
                    F.slice("syms", 1, n - 1).alias("l"),
                    F.slice("syms", 2, n - 1).alias("r"),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(
                F.col("p.l").alias("left"), F.col("p.r").alias("right")
            )
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], top[0]["pair_count"]
        merges.append((rank, left, right, int(cnt)))
        l_lit, r_lit = F.lit(left), F.lit(right)
        merged = F.aggregate(
            "syms",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == l_lit)
                & (x == r_lit),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(l_lit, r_lit)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = vocab.select("cnt", merged.alias("syms")).localCheckpoint()  # row-cap: merge vocabulary, driver-loop state

    return merges



@query("q_bpe_train_portable", bench=False, oracle=_bpe_train_oracle(3))
def q_bpe_train_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING under an exact end-to-end oracle — the
    portable-twin standard applied to the LAST algorithmic rows-only
    family: the SAME distributed Sennrich loop as q_bpe_train_merges
    (shared `_train_merges` — word-type hash agg, per-round pair
    explode + argmax with deterministic (count desc, lexicographic)
    ties, leftmost-scan array fold) run for exactly 3 rounds, while
    the DuckDB oracle independently replays ALL of it — pair counting,
    argmax, and the merge applications — via the double-space string
    encoding whose replace() is provably the same leftmost scan as the
    fold (the q_bpe_apply argument). A divergence in ANY round's pair
    count, tiebreak, or merge application changes a later round's
    argmax and breaks the hash — so the training mechanics themselves
    are now hash-proven, complementing the 10-round production form's
    Python-reference equality test.

    Scale: identical plan to the production trainer — the corpus pass
    is one hash agg; rounds run on the corpus-size-independent
    word-type table; 3 rounds keeps the oracle's chained-CTE replay
    cheap at any SF."""
    return spark.createDataFrame(
        _train_merges(spark, sf_dir, 3),
        "merge_rank int, left string, right string, pair_count bigint",
    )


#: The frozen tokenizer q_bpe_apply ships: the exact 10-merge sequence
#: q_bpe_train_merges produces at sf0.001 (train once, apply everywhere —
#: the production shape; a tokenizer's merge list never varies with the
#: corpus it is APPLIED to). Regenerate by running the trainer at
#: sf0.001 if the fixture generator ever changes.
BPE_FROZEN_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("e", "</w>"),
    ("n", "</w>"),
    ("o", "r"),
    ("t", "</w>"),
    ("er", "</w>"),
    ("o", "w"),
    ("ow", "</w>"),
    ("l", "u"),
    ("i", "n"),
]


def _bpe_apply_oracle() -> str:
    """Build the DuckDB oracle for q_bpe_apply: the word encoding, the
    10 chained literal replaces, and the space-count token arithmetic —
    the exact recipe the Spark side runs (see q_bpe_apply)."""
    # regexp_replace wraps every char as ' c ' (chars are already
    # space-wrapped); the outer concat only appends the </w> symbol.
    enc = "concat(regexp_replace(w, '(.)', ' \\1 ', 'g'), ' </w> ')"
    for left, right in BPE_FROZEN_MERGES:
        enc = f"replace({enc}, ' {left}  {right} ', ' {left}{right} ')"
    n_sym = f"(length({enc}) - length(replace({enc}, ' ', ''))) // 2"
    return f"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents
    )
    SELECT doc_id, lang,
           cast(len(ws) as int) AS n_words,
           cast(list_reduce(
               list_transform(ws, w -> {n_sym}), (a, b) -> a + b
           ) as bigint) AS n_bpe_tokens
    FROM toks
    """


@query("q_bpe_apply", oracle=_bpe_apply_oracle())
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a FROZEN BPE merge list to the corpus — the twin of
    q_bpe_train_merges (VERDICT r8 item 6) and the shape every
    tokenization pass at 100 TB actually runs: the merge table is a
    10-row constant trained once (BPE_FROZEN_MERGES = the trainer's
    exact sf0.001 output), the corpus is map-only tokenized against it.

    The execution trick that keeps this pure JVM codegen (no UDF, no
    per-round driver loop): a word's symbol sequence is encoded as a
    double-space-delimited string (' a  b  c  </w> ' — every symbol
    wrapped in its own spaces, so every adjacent-symbol boundary is a
    unique ' l  r ' substring). Applying merge (l, r) leftmost-scan is
    then EXACTLY the literal replace(enc, ' l  r ', ' lr '): replace
    scans left to right without rescanning replaced output, and the
    fold-equivalence argument from q_bpe_train_merges (a just-merged
    token can never re-pair as `l` while `right` is non-empty) carries
    over verbatim — proven token-for-token against a pure-Python
    Sennrich apply in tests/test_invariants.py::
    test_bpe_apply_matches_reference. Token counts then need no split:
    every symbol contributes exactly 2 spaces, so n_tokens =
    (len(enc) - len(enc minus spaces)) / 2.

    Parity: string_split/list ops mirror 1:1 (DuckDB oracle built by
    _bpe_apply_oracle from the SAME frozen constant); replace() is
    literal non-overlapping left-to-right in both engines; counting is
    integer arithmetic on identical strings — hash-exact, no finishing.

    Scale: zero shuffles — one projection over the documents scan with
    10 chained replaces per word inside whole-stage codegen; the merge
    list rides in the plan as literals (a 50k-merge production list
    would ship as a broadcast join on a word-type table instead — the
    structure q_bpe_train_merges' vocab table already demonstrates).
    """
    toks = F.filter(F.split("text", " "), lambda w: w != "")

    def n_sym(w):
        enc = F.concat(
            F.regexp_replace(w, "(.)", " $1 "), F.lit(" </w> ")
        )
        for left, right in BPE_FROZEN_MERGES:
            enc = F.replace(
                enc, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
            )
        return (
            (F.length(enc) - F.length(F.replace(enc, F.lit(" "), F.lit(""))))
            / 2
        ).cast("bigint")

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_words"),
        F.aggregate(
            F.transform(toks, n_sym),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_bpe_tokens"),
    )


@query(
    "q_corpus_curation_pipeline",
    oracle=f"""
    WITH dedup AS (
        SELECT min(doc_id) AS doc_id, min(lang) AS lang, text
        FROM documents GROUP BY text
    ),
    scored AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars
        FROM dedup
    ),
    quality AS (
        SELECT * FROM scored
        WHERE n_tokens BETWEEN 40 AND 150
          AND CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 3.0 AND 8.0
    ),
    mixed AS (
        SELECT * FROM quality
        WHERE (doc_id * {_KNUTH}) % 1000 < {_mix_case_sql()}
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM mixed GROUP BY lang ORDER BY lang
    """,
)
def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END CORPUS CURATION — the four standard stages composed
    into ONE DataFrame plan (each stage also exists as a graded
    standalone key; this key proves they COMPOSE): exact dedup
    (group-by-text, keep the min doc_id — q_dedup_exact's shape) →
    integer quality gate (token count 40–150, mean token length 3–8
    chars — q_text_quality's shape) → deterministic language-mix
    sampling ((doc_id·Knuth) mod 1000 against per-lang permille —
    q_corpus_mix_weighted's arithmetic) → per-lang token/char budget
    report. Every decision is integer math on exact counts, so the
    whole pipeline is engine-exact with zero finishing.

    Scale: one shuffle for the dedup group-by (keyed on text — the
    unavoidable one), then gate + mix are map-side predicates fused
    into the same stage, and the final per-lang agg is map-side
    combinable to |langs| grains. Catalyst pipelines all four stages
    into two exchanges total — the reason to compose in one plan
    instead of materializing between stages.
    """
    d = load(spark, sf_dir, "documents")
    dedup = d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang")
    )
    scored = dedup.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    quality = scored.filter(
        F.col("n_tokens").between(40, 150)
        & (F.col("n_chars").cast("double") / F.col("n_tokens")).between(3.0, 8.0)
    )
    permille = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(pm))
            for lang, pm in _MIX_PERMILLE.items()
        ],
        F.lit(_MIX_DEFAULT),
    )
    mixed = quality.filter((F.col("doc_id") * _KNUTH) % 1000 < permille)
    return (
        mixed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
        )
        .orderBy("lang")
    )
