"""Text-analysis + dedup query specs over `documents` (training-data pipeline
extensions: language-ID, quality scoring, token stats, fingerprinting, exact
dedup, n-gram Jaccard, MinHash+LSH, SimHash)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.exact import dsum_sql, lit_double, qround_py, qround_sql
from ..functions.rng import M, rng_draw, rng_draw_sql, rng_uniform, rng_uniform_sql
from ..operators import dedup as DD
from ..operators import textops as TX
from ..operators.textops import poly_hash_duck_expr, poly_hash_sql_expr
from ..sources.readers import load_table
from .registry import register
from .shared import session_view, view_persist

_TOKS = "string_split(text, ' ')"
_STOP = ", ".join(f"'{w}'" for w in TX.STOPWORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _sh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-persisted hashed-shingle index (plans.shared.shingles_df)."""
    from .shared import shingles_df

    return shingles_df(spark, sf_dir)


@register(
    "t_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_distinct_tokens,
           length(text) AS n_chars
    FROM documents
    """,
    tags=("TXT-tokens",),
    doc="Whitespace token counting (BPE-ish regex splitting is a superset).",
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TX.token_count().alias("n_tokens"),
        TX.distinct_token_count().alias("n_distinct_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


_BPE_PAT = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"


@register(
    "t_regex_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS INTEGER)
             AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+'))) AS INTEGER)
             AS n_bpe_distinct
    FROM documents
    """,
    tags=("TXT-tokens",),
    doc="BPE-ish regex tokenization (word/number/punct-run classes) — the "
    "pre-tokenizer split used by GPT-style BPE vocabularies.",
)
def t_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # lit() avoids SQL-literal backslash escaping ('\s' would become 's')
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_bpe_distinct"),
    )


@register(
    "t_quality_score",
    oracle=f"""
    SELECT doc_id,
           (floor((0.4 * (CAST(len(list_filter({_TOKS}, x -> x IN ({_STOP}))) AS DOUBLE)
                        / CAST(len({_TOKS}) AS DOUBLE))
               + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                        / CAST(len({_TOKS}) AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0) AS quality
    FROM documents
    """,
    tags=("TXT-quality",),
    doc="Composite quality: stopword ratio + length saturation + diversity.",
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import qround

    d = _docs(spark, sf_dir)
    return d.select("doc_id", qround(TX.quality_score(), 6).alias("quality"))


def _marker_duck(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in TX.LANG_MARKERS[lang])
    return f"CAST(len(list_filter({_TOKS}, x -> x IN ({arr}))) AS INTEGER)"


@register(
    "t_langid_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             {_marker_duck('en')} AS n_en, {_marker_duck('fr')} AS n_fr,
             {_marker_duck('de')} AS n_de, {_marker_duck('es')} AS n_es,
             length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) > 0 AS has_cjk
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE WHEN has_cjk THEN 'zh'
                  WHEN n_en >= greatest(n_fr, n_de, n_es) AND n_en > 0 THEN 'en'
                  WHEN n_fr >= greatest(n_de, n_es) AND n_fr > 0 THEN 'fr'
                  WHEN n_de >= n_es AND n_de > 0 THEN 'de'
                  WHEN n_es > 0 THEN 'es'
                  ELSE 'unknown' END AS pred_lang
      FROM scored
    )
    SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2
    """,
    tags=("TXT-langid",),
    doc="Stopword-marker language heuristic, confusion vs. labeled lang.",
)
def t_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.withColumn("pred_lang", TX.predicted_lang())
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "a_cohens_kappa",
    oracle=f"""
    WITH scored AS (
      SELECT source, lang,
             {_marker_duck('en')} AS n_en, {_marker_duck('fr')} AS n_fr,
             {_marker_duck('de')} AS n_de, {_marker_duck('es')} AS n_es,
             length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) > 0 AS has_cjk
      FROM documents
    ),
    pred AS (
      SELECT source, lang,
             CASE WHEN has_cjk THEN 'zh'
                  WHEN n_en >= greatest(n_fr, n_de, n_es) AND n_en > 0 THEN 'en'
                  WHEN n_fr >= greatest(n_de, n_es) AND n_fr > 0 THEN 'fr'
                  WHEN n_de >= n_es AND n_de > 0 THEN 'de'
                  WHEN n_es > 0 THEN 'es'
                  ELSE 'unknown' END AS pred_lang
      FROM pred_base
    ),
    cm AS (SELECT source, lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2, 3),
    tot AS (
      SELECT source, sum(n) AS n,
             sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS agree
      FROM cm GROUP BY 1
    ),
    rows_ AS (SELECT source, lang AS lbl, sum(n) AS rn FROM cm GROUP BY 1, 2),
    cols_ AS (SELECT source, pred_lang AS lbl, sum(n) AS cn FROM cm GROUP BY 1, 2),
    marg AS (
      SELECT coalesce(r.source, c.source) AS source,
             sum(coalesce(r.rn, 0) * coalesce(c.cn, 0)) AS rc
      FROM rows_ r FULL JOIN cols_ c ON r.source = c.source AND r.lbl = c.lbl
      GROUP BY 1
    )
    SELECT t.source, CAST(t.n AS BIGINT) AS n_docs,
           floor((CAST(t.agree AS DOUBLE) / CAST(t.n AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 AS po,
           floor((CAST(m.rc AS DOUBLE) / CAST(t.n * t.n AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 AS pe,
           CASE WHEN m.rc = t.n * t.n THEN 0.0
                ELSE floor(((CAST(t.agree AS DOUBLE) / CAST(t.n AS DOUBLE)
                             - CAST(m.rc AS DOUBLE) / CAST(t.n * t.n AS DOUBLE))
                            / (1.0 - CAST(m.rc AS DOUBLE) / CAST(t.n * t.n AS DOUBLE)))
                           * 1000000000.0 + 0.5) / 1000000000.0
           END AS kappa
    FROM tot t JOIN marg m USING (source)
    """.replace("FROM pred_base", "FROM scored"),
    tags=("TXT-langid", "A10"),
    doc="Cohen's kappa per source between the marker-based langid heuristic "
    "and the labeled lang column — chance-corrected inter-rater agreement, "
    "the standard acceptance metric for a labeling/classification pipeline. "
    "po and pe are exact integer-count ratios (row x column marginal "
    "products), kappa = (po-pe)/(1-pe), all quantized at 1e-9. Combinable "
    "counts + marginal joins on (source, label) — no window, no collect.",
)
def a_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    cm = (
        d.select("source", "lang", TX.predicted_lang().alias("pred_lang"))
        .groupBy("source", "lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cm.groupBy("source").agg(
        F.sum("n").alias("n"),
        F.sum(F.when(F.col("lang") == F.col("pred_lang"), F.col("n")).otherwise(0)).alias(
            "agree"
        ),
    )
    rows_ = cm.groupBy("source", F.col("lang").alias("lbl")).agg(F.sum("n").alias("rn"))
    cols_ = cm.groupBy("source", F.col("pred_lang").alias("lbl")).agg(
        F.sum("n").alias("cn")
    )
    marg = (
        rows_.join(cols_, ["source", "lbl"], "full")
        .groupBy("source")
        .agg(
            F.sum(
                F.coalesce(F.col("rn"), F.lit(0)) * F.coalesce(F.col("cn"), F.lit(0))
            ).alias("rc")
        )
    )
    po = "cast(agree as double) / cast(n as double)"
    pe = "cast(rc as double) / cast(n * n as double)"
    q9 = lambda x: f"floor(({x}) * 1000000000.0D + 0.5D) / 1000000000.0D"
    return (
        tot.join(marg, "source")
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.expr(q9(po)).alias("po"),
            F.expr(q9(pe)).alias("pe"),
            F.expr(
                f"CASE WHEN rc = n * n THEN 0.0D ELSE {q9(f'(({po}) - ({pe})) / (1.0D - ({pe}))')} END"
            ).alias("kappa"),
        )
    )


@register(
    "u_train_leakage",
    oracle=f"""
    WITH s AS (
      SELECT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp,
             CASE WHEN {rng_uniform_sql('doc_id', salt=37)} < 0.8 THEN 1 ELSE 0 END AS is_train
      FROM documents
    ),
    g AS (
      SELECT fp, sum(is_train) AS ct, sum(1 - is_train) AS cv
      FROM s GROUP BY fp
    )
    SELECT CAST(sum(ct) AS BIGINT) AS n_train,
           CAST(sum(cv) AS BIGINT) AS n_val,
           CAST(sum(CASE WHEN ct > 0 AND cv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_fps,
           CAST(sum(CASE WHEN ct > 0 THEN cv ELSE 0 END) AS BIGINT) AS n_leaked_val_docs
    FROM g
    """,
    tags=("U4", "F8", "DEDUP-exact", "A13"),
    doc="Train/val split-hygiene audit: after the seeded 80/20 hash split, "
    "count normalized-fingerprint groups spanning BOTH splits and the val "
    "docs whose fingerprint also appears in train — the leakage number a "
    "training pipeline must drive to zero before an eval claim (the "
    "split-level complement of benchmark decontamination). One combinable "
    "fingerprint groupBy + one global agg; no window, no collect.",
)
def u_train_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    s = d.select(
        TX.fingerprint().alias("fp"),
        (rng_uniform(F.col("doc_id"), salt=37) < 0.8).cast("int").alias("is_train"),
    )
    g = s.groupBy("fp").agg(
        F.sum("is_train").alias("ct"), F.sum(F.lit(1) - F.col("is_train")).alias("cv")
    )
    return g.agg(
        F.sum("ct").cast("bigint").alias("n_train"),
        F.sum("cv").cast("bigint").alias("n_val"),
        F.sum(F.when((F.col("ct") > 0) & (F.col("cv") > 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_leaked_fps"),
        F.sum(F.when(F.col("ct") > 0, F.col("cv")).otherwise(0))
        .cast("bigint")
        .alias("n_leaked_val_docs"),
    )


@register(
    "t_rake_keywords",
    oracle=f"""
    WITH tl AS (
      SELECT doc_id, unnest(range(1, len({_TOKS}) + 1)) AS pos, unnest({_TOKS}) AS tok
      FROM documents
    ),
    ns AS (
      SELECT doc_id, pos, tok,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM tl WHERE tok NOT IN ({_STOP})
    ),
    ph AS (
      SELECT doc_id, isl,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             count(*) AS n_words
      FROM ns GROUP BY 1, 2
    ),
    wp AS (
      SELECT ns.doc_id, ns.isl, ns.tok, ph.n_words
      FROM ns JOIN ph ON ns.doc_id = ph.doc_id AND ns.isl = ph.isl
    ),
    ws AS (
      SELECT tok,
             CAST(floor((CAST(sum(n_words) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) AS wq
      FROM wp GROUP BY tok
    ),
    psc AS (
      SELECT wp.doc_id, wp.isl, sum(ws.wq) AS sq
      FROM wp JOIN ws USING (tok) GROUP BY 1, 2
    ),
    agg AS (
      SELECT ph.phrase, count(*) AS n_occurrences,
             CAST(max(psc.sq) AS DOUBLE) / 1000000.0 AS score
      FROM ph JOIN psc ON ph.doc_id = psc.doc_id AND ph.isl = psc.isl
      GROUP BY ph.phrase
    )
    SELECT phrase, n_occurrences, score
    FROM agg ORDER BY score DESC, phrase ASC LIMIT 40
    """,
    tags=("TXT-tokens", "TXT-quality", "O3"),
    doc="RAKE keyword extraction: candidate phrases are maximal stopword-"
    "free token runs (per-doc gaps-and-islands), word score = degree/freq "
    "over the whole corpus (degree = sum of containing-phrase lengths), "
    "phrase score = sum of its word scores — each word score quantized to "
    "the 1e-6 lattice before the integer phrase-sum (the TF-IDF "
    "precedent), global top-40 via TakeOrdered. Per-doc windows + "
    "combinable word stats; the word table is vocabulary-sized.",
)
def t_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tl = DD.token_long(d)
    ns = tl.filter(~F.col("tok").isin(*TX.STOPWORDS)).withColumn(
        "isl",
        F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    ph = ns.groupBy("doc_id", "isl").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("n_words"),
    )
    wp = ns.join(ph.select("doc_id", "isl", "n_words"), ["doc_id", "isl"])
    ws = wp.groupBy("tok").agg(
        F.expr(
            "cast(floor((cast(sum(n_words) as double) / cast(count(1) as double))"
            " * 1000000.0D + 0.5D) as bigint)"
        ).alias("wq")
    )
    psc = wp.join(ws, "tok").groupBy("doc_id", "isl").agg(F.sum("wq").alias("sq"))
    agg = (
        ph.join(psc, ["doc_id", "isl"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            (F.max("sq").cast("double") / F.lit(1e6)).alias("score"),
        )
    )
    return agg.orderBy(F.col("score").desc(), F.col("phrase").asc()).limit(40)


@register(
    "p_dp_counts",
    oracle=f"""
    WITH g AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
    k AS (SELECT source, lang, n,
                 {poly_hash_duck_expr("concat(source, '|', lang)")} AS hk
          FROM g),
    u AS (SELECT source, lang, n, {rng_uniform_sql('hk', salt=73)} - 0.5 AS v FROM k)
    SELECT source, lang, CAST(n AS BIGINT) AS n_true,
           floor((CAST(n AS DOUBLE)
                  + (CASE WHEN v >= 0 THEN -1.0 ELSE 1.0 END)
                    * ln(greatest(1.0 - 2.0 * abs(v), 0.000000000001)))
                 * 1000000.0 + 0.5) / 1000000.0 AS n_noisy
    FROM u
    """,
    tags=("P-privacy", "F8", "F7"),
    doc="Differentially-private release of per-(source, lang) counts: "
    "Laplace(b = 1/eps, eps = 1, count sensitivity 1) noise drawn by "
    "inverse CDF from the seeded cross-engine RNG keyed on the group's "
    "polynomial hash — deterministic, bit-reproducible in the oracle, and "
    "still a valid DP mechanism for a single fixed release (the privacy "
    "argument needs fresh randomness per release; the seeded draw IS that "
    "one release). Complements p_kanonymity: suppression vs noise — the "
    "two privacy primitives an aggregate-publishing pipeline ships. "
    "Map-side-combinable count + pure column math; noise quantized 1e-6.",
)
def p_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import qround

    d = _docs(spark, sf_dir)
    g = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    hk = F.expr(poly_hash_sql_expr("concat(source, '|', lang)"))
    v = rng_uniform(hk, salt=73) - F.lit(0.5)
    noise = F.when(v >= 0, F.lit(-1.0)).otherwise(F.lit(1.0)) * F.log(
        F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(v), F.lit(1e-12))
    )
    return g.select(
        "source",
        "lang",
        F.col("n").cast("bigint").alias("n_true"),
        qround(F.col("n").cast("double") + noise, 6).alias("n_noisy"),
    )


@register(
    "t_fingerprint_dedup",
    oracle="""
    WITH fp AS (
      SELECT source, md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
      FROM documents
    )
    SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
           count(*) - count(DISTINCT fp) AS n_dups
    FROM fp GROUP BY source
    """,
    tags=("TXT-fingerprint", "DEDUP-exact"),
    doc="Normalized-md5 document fingerprint dedup accounting.",
)
def t_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.fingerprint_dedup_stats(_docs(spark, sf_dir))


@register(
    "d_exact_dedup",
    oracle="""
    WITH k AS (
      SELECT source, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM k GROUP BY source
    """,
    tags=("DEDUP-exact", "P2"),
    doc="Exact-text dedup, deterministic keep-lowest-id.",
)
def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    kept = DD.exact_dedup(d)
    tot = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    k = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return tot.join(k, "source")


# Hashed-shingle CTE chain: vocabulary dim (char-fold once per distinct
# token) → token-hash stream → lead-window 3-gram integer combine.
_SH_CTES = f"""
base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok_long AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok FROM base
),
dimh AS (
  SELECT tok, {poly_hash_duck_expr('tok')} AS h FROM (SELECT DISTINCT tok FROM tok_long)
),
tl AS (SELECT doc_id, pos, h FROM tok_long JOIN dimh USING (tok)),
tri AS (
  SELECT doc_id, h AS h1, lead(h, 1) OVER w AS h2, lead(h, 2) OVER w AS h3
  FROM tl WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
  SELECT DISTINCT doc_id,
         ((((h1 * {DD.SHINGLE_MULT} + h2) % {M}) * {DD.SHINGLE_MULT}) + h3) % {M} AS shingle
  FROM tri WHERE h3 IS NOT NULL
)"""

# Hot-shingle df cap (dedup.df_capped_shingles mirror): drop shingles with
# document frequency > greatest(SHINGLE_DF_MIN_CAP, n_docs div DENOM) before
# any inverted-index pair join. References the enclosing `sh` CTE, so it
# composes with both the full-corpus and the sampled shingle chains.
_SHF_CTE = f"""shf AS (
      SELECT doc_id, shingle FROM sh
      WHERE shingle NOT IN (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) > greatest({DD.SHINGLE_DF_MIN_CAP},
                                   (SELECT count(DISTINCT doc_id) FROM sh) // {DD.SHINGLE_DF_DENOM})
      )
    )"""

_JACCARD_TAIL = """
sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT d1, d2, inter, s1.sz AS sz1, s2.sz AS sz2,
         CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) AS jaccard
  FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
)"""


@register(
    "d_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SH_CTES},
    {_SHF_CTE},
    ex AS (SELECT doc_id, shingle FROM shf),
    {_JACCARD_TAIL}
    SELECT d1, d2, CAST(inter AS BIGINT) AS inter,
           CAST(sz1 AS BIGINT) AS sz1, CAST(sz2 AS BIGINT) AS sz2, jaccard
    FROM jac WHERE jaccard >= 0.2
    """,
    tags=("DEDUP-ngram",),
    doc="Exact hashed-3-gram Jaccard via integer inverted index (no cross "
    "join); hot shingles (df > greatest(5, n_docs div 100)) anti-joined "
    "away first — boilerplate emits C(df,2) join rows and no signal.",
)
def d_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _sh(spark, sf_dir)
    return DD.jaccard_pairs(sh, min_jaccard=0.2)


def _sig_cols() -> str:
    return ", ".join(
        f"min((shingle * {2 * j + 3} + {5 * j + 1}) % {M}) AS s{j}" for j in range(DD.N_HASHES)
    )


def _band_case() -> str:
    whens = " ".join(
        f"WHEN {b} THEN concat_ws('-', "
        + ", ".join(f"s{b * DD.BAND_ROWS + r}" for r in range(DD.BAND_ROWS))
        + ")"
        for b in range(DD.N_BANDS)
    )
    return f"CASE b {whens} END"


@session_view
def _mh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted full-corpus MinHash band keys (doc_id, band, band_key) over
    the session shingle view — the signature groupBy runs once per session.
    A doc's signature depends only on its own shingles, so every sampled /
    split consumer (recall curve's 50% sample, incremental dedup's delta) is
    a pure doc_id filter of this frame, identical to recomputing bands on
    the sampled shingles."""
    return view_persist(DD.minhash_bands(_sh(spark, sf_dir)))


_MH_P02_CTES = f"""{_SH_CTES},
    sig AS (SELECT doc_id, {_sig_cols()} FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, CAST(b AS INTEGER) AS b, {_band_case()} AS band_key
      FROM sig, (SELECT unnest(range(0, {DD.N_BANDS})) AS b)
    ),
    ranked AS (
      SELECT doc_id, b, band_key,
             row_number() OVER (PARTITION BY b, band_key ORDER BY doc_id) AS rk
      FROM bands
    ),
    capped AS (SELECT * FROM ranked WHERE rk <= {DD.LSH_BUCKET_CAP}),
    cands AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM capped a JOIN capped b
        ON a.b = b.b AND a.band_key = b.band_key
       AND b.rk - a.rk BETWEEN 1 AND {DD.LSH_NEIGHBORHOOD}
      GROUP BY 1, 2
    ),
    ids AS (SELECT d1 AS doc_id FROM cands UNION SELECT d2 FROM cands),
    {_SHF_CTE},
    ex AS (SELECT doc_id, shingle FROM shf WHERE doc_id IN (SELECT doc_id FROM ids)),
    {_JACCARD_TAIL},
    p02 AS (
      SELECT j.d1, j.d2, CAST(j.inter AS BIGINT) AS inter,
             CAST(j.sz1 AS BIGINT) AS sz1, CAST(j.sz2 AS BIGINT) AS sz2, j.jaccard
      FROM jac j JOIN cands c ON j.d1 = c.d1 AND j.d2 = c.d2
      WHERE j.jaccard >= 0.2
    )"""


@session_view
def _mh_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted LSH candidate-pair set over the session band view — the
    window-rank + bucket self-join + distinct chain that BOTH the verified
    pair set (:func:`_mh_pairs_02`) and the fuzzy edit-distance verify
    (d_fuzzy_edit_pairs) start from. Candidates are threshold-independent,
    so one materialization serves every verifier (r15: the fuzzy query
    re-ran the whole chain, ~2.5 s of its wall at sf0.1)."""
    return view_persist(DD.lsh_candidate_pairs(_mh_bands(spark, sf_dir)))


@session_view
def _mh_pairs_02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted text-MinHash verified pair set at the LOWEST threshold any
    consumer uses (0.2) — the _near_pairs_02 discipline applied to the text
    path: the shingle/band/verify chain runs once per session and every
    higher-threshold consumer (the 0.5 cluster histogram) is a pure filter
    of this materialization (candidates are threshold-independent, so the
    filtered set is exactly minhash_lsh_dedup at the higher threshold)."""
    p = DD.minhash_lsh_dedup(
        _docs(spark, sf_dir),
        min_jaccard=0.2,
        sh=_sh(spark, sf_dir),
        bands=_mh_bands(spark, sf_dir),
        cands=_mh_cands(spark, sf_dir),
    )
    return view_persist(p)


@register(
    "d_minhash_lsh_pairs",
    oracle=f"""
    WITH {_MH_P02_CTES}
    SELECT d1, d2, inter, sz1, sz2, jaccard FROM p02
    """,
    tags=("DEDUP-minhash", "J5", "U5"),
    doc="MinHash signatures → banded LSH buckets → exact-Jaccard verify. "
    "Candidate pairs form only inside a sorted-neighborhood window "
    "(rank distance ≤ 32 within a bucket, buckets truncated at 2000) so a "
    "hot bucket yields O(members) pairs, never O(members²); the verify "
    "stage computes intersections PER CANDIDATE PAIR over the df-capped "
    "shingle space (cands ⋈ sh(d1) ⋈ sh(d2) on equal shingle) — linear in "
    "candidate volume, never quadratic in candidate docs — all mirrored "
    "in the oracle's ranked/capped/shf CTEs.",
)
def d_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mh_pairs_02(spark, sf_dir)


@register(
    "d_minhash_band_stats",
    oracle=f"""
    WITH {_SH_CTES},
    sig AS (SELECT doc_id, {_sig_cols()} FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, CAST(b AS INTEGER) AS band, {_band_case()} AS band_key
      FROM sig, (SELECT unnest(range(0, {DD.N_BANDS})) AS b)
    ),
    sz AS (SELECT band, band_key, count(*) AS c FROM bands GROUP BY 1, 2),
    st AS (SELECT band, c, least(c, {DD.LSH_BUCKET_CAP}) AS cc FROM sz)
    SELECT band, count(*) AS n_buckets, CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(c - cc) AS BIGINT) AS n_truncated,
           CAST(sum(CASE WHEN cc <= {DD.LSH_NEIGHBORHOOD} + 1 THEN (cc * (cc - 1)) // 2
                         ELSE {DD.LSH_NEIGHBORHOOD} * cc
                              - ({DD.LSH_NEIGHBORHOOD} * ({DD.LSH_NEIGHBORHOOD} + 1)) // 2 END)
                AS BIGINT) AS n_cand_pairs
    FROM st GROUP BY band
    """,
    tags=("DEDUP-minhash", "A14"),
    doc="Text MinHash-LSH band diagnostics — the no-silent-caps visibility "
    "query for the bounded candidate join: per band, bucket count, max raw "
    "bucket population, members dropped by the 2000 cap, and the exact pair "
    "volume the sorted-neighborhood join materializes (c(c-1)/2 small "
    "buckets, w*c - w(w+1)/2 hot ones). An operator that truncates must "
    "report what it truncated.",
)
def d_minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_band_stats(_mh_bands(spark, sf_dir))


@register(
    "d_shingle_df_stats",
    oracle=f"""
    WITH {_SH_CTES},
    dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM sh),
    st AS (
      SELECT df,
             greatest({DD.SHINGLE_DF_MIN_CAP},
                      (SELECT n FROM nd) // {DD.SHINGLE_DF_DENOM}) AS cap
      FROM dfs
    )
    SELECT CAST((SELECT n FROM nd) AS BIGINT) AS n_docs,
           CAST(max(cap) AS BIGINT) AS df_cap,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN df > cap THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
           CAST(max(df) AS BIGINT) AS max_df,
           CAST(sum(CASE WHEN df > cap THEN df ELSE 0 END) AS BIGINT) AS rows_dropped,
           CAST(sum(CASE WHEN df > cap THEN 0 ELSE df END) AS BIGINT) AS rows_kept
    FROM st
    """,
    tags=("DEDUP-ngram", "A14"),
    doc="Hot-shingle df-cap diagnostics — the no-silent-caps visibility "
    "query for the exact inverted-index joins (jaccard/containment/"
    "minhash-verify): corpus doc count, the effective relative cap "
    "(greatest(5, n_docs div 100)), distinct shingles, how many are hot "
    "(dropped), max observed df, and the inverted-index row volume removed "
    "vs kept. An operator that truncates must report what it truncated.",
)
def d_shingle_df_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.shingle_df_stats(_sh(spark, sf_dir))


# the full text-MinHash → verified-pairs → recursive-CC oracle chain at
# Jaccard ≥ 0.5, shared by d_dup_cluster_hist and pipeline_near_dedup
_MH_CC_CTES = f"""{_SH_CTES},
    sig AS (SELECT doc_id, {_sig_cols()} FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, CAST(b AS INTEGER) AS b, {_band_case()} AS band_key
      FROM sig, (SELECT unnest(range(0, {DD.N_BANDS})) AS b)
    ),
    ranked AS (
      SELECT doc_id, b, band_key,
             row_number() OVER (PARTITION BY b, band_key ORDER BY doc_id) AS rk
      FROM bands
    ),
    capped AS (SELECT * FROM ranked WHERE rk <= {DD.LSH_BUCKET_CAP}),
    cands AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM capped a JOIN capped b
        ON a.b = b.b AND a.band_key = b.band_key
       AND b.rk - a.rk BETWEEN 1 AND {DD.LSH_NEIGHBORHOOD}
      GROUP BY 1, 2
    ),
    ids AS (SELECT d1 AS doc_id FROM cands UNION SELECT d2 FROM cands),
    {_SHF_CTE},
    ex AS (SELECT doc_id, shingle FROM shf WHERE doc_id IN (SELECT doc_id FROM ids)),
    {_JACCARD_TAIL},
    near AS (
      SELECT j.d1, j.d2 FROM jac j JOIN cands c ON j.d1 = c.d1 AND j.d2 = c.d2
      WHERE j.jaccard >= 0.5
    ),
    edges AS (SELECT d1 AS a, d2 AS b FROM near UNION ALL SELECT d2, d1 FROM near),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, lab) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.v
    ),
    labf AS (SELECT v, min(lab) AS cluster FROM reach GROUP BY v)"""


@session_view
def _mh_cc_05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted connected-components labels over the 0.5-Jaccard near-dup
    graph — shared by the cluster histogram and the composed dedup
    pipeline, so the BSP label-propagation rounds run once per session."""
    pairs = _mh_pairs_02(spark, sf_dir).filter(F.col("jaccard") >= 0.5).select("d1", "d2")
    return view_persist(DD.connected_components(pairs))


@register(
    "d_dup_cluster_hist",
    oracle=f"""
    WITH RECURSIVE {_MH_CC_CTES},
    sz AS (SELECT cluster, count(*) AS csize FROM labf GROUP BY 1)
    SELECT CAST(csize AS BIGINT) AS cluster_size,
           count(*) AS n_clusters,
           CAST(csize * count(*) AS BIGINT) AS n_docs,
           CAST((csize - 1) * count(*) AS BIGINT) AS n_removable
    FROM sz GROUP BY csize
    """,
    tags=("DEDUP-minhash", "DEDUP-cc", "A14"),
    doc="Dedup-savings accounting: connected components over the text "
    "MinHash near-dup graph (Jaccard >= 0.5 verified pairs), rolled up to a "
    "cluster-size histogram — n_clusters / n_docs / n_removable per size, "
    "the numbers a 100 TB dedup policy decision actually reads (keep-one-"
    "per-cluster savings = sum of n_removable). Singleton docs (no near-dup "
    "edge) are out of the graph by construction. Same BSP min-label + "
    "pointer-jumping CC as d_cc_clusters; oracle = DuckDB recursive CTE "
    "over the identically-bounded pair graph.",
)
def d_dup_cluster_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = _mh_cc_05(spark, sf_dir)
    sizes = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("csize"))
    return sizes.groupBy("csize").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("csize") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
        ((F.col("csize") - 1) * F.count(F.lit(1))).cast("bigint").alias("n_removable"),
    ).select(
        F.col("csize").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_removable",
    )


@register(
    "pipeline_near_dedup",
    oracle=f"""
    WITH RECURSIVE {_MH_CC_CTES},
    dropped AS (SELECT v AS doc_id FROM labf WHERE cluster != v)
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN dr.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    GROUP BY d.source
    """,
    tags=("DEDUP-minhash", "DEDUP-cc", "U5", "A13"),
    doc="The near-dedup CORPUS OPERATION end to end, as one plan over the "
    "session memos: MinHash-LSH verified pairs (>= 0.5 Jaccard) -> "
    "connected components -> keep the min-id representative per cluster -> "
    "per-source kept/dropped accounting with retained char volume. The "
    "drop set is an anti-join of cluster non-representatives against the "
    "corpus — the exact shape a 100 TB dedup job ships (dedup never "
    "rewrites the corpus; it emits a keep-list).",
)
def pipeline_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    cc = _mh_cc_05(spark, sf_dir)
    dropped = cc.filter(F.col("cluster") != F.col("vertex")).select(
        F.col("vertex").alias("doc_id")
    )
    flagged = d.join(dropped.withColumn("_dr", F.lit(1)), "doc_id", "left")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("_dr").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.sum(F.when(F.col("_dr").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("_dr").isNull(), F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
    )


@register(
    "d_soft_dedup_weights",
    oracle=f"""
    WITH RECURSIVE {_MH_CC_CTES},
    sz AS (SELECT cluster, count(*) AS csize FROM labf GROUP BY 1),
    w AS (
      SELECT labf.v AS doc_id, sz.csize
      FROM labf JOIN sz USING (cluster)
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN w.csize IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           floor(sum(1.0 / CAST(coalesce(w.csize, 1) AS DOUBLE)) * 1000000.0 + 0.5)
             / 1000000.0 AS effective_docs
    FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
    GROUP BY d.source
    """,
    tags=("DEDUP-minhash", "DEDUP-cc", "A13"),
    doc="SOFT dedup: instead of dropping near-duplicates, weight every doc "
    "by 1/|its near-dup cluster| (docs outside the pair graph weigh 1) — "
    "the downweight-don't-discard training recipe; per source, the "
    "effective document count Σ 1/csize is the number the token-budget "
    "planner uses. 1/csize is an exact small-integer reciprocal, identical "
    "in both engines; the per-source sum is quantized at 1e-6. Reuses the "
    "memoized CC labels — one size join + one rollup on top.",
)
def d_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    cc = _mh_cc_05(spark, sf_dir)
    sz = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("csize"))
    w_ = cc.join(sz, "cluster").select(F.col("vertex").alias("doc_id"), "csize")
    flagged = d.join(w_, "doc_id", "left")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("csize").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_unique"),
        F.expr(
            "floor(sum(1.0D / cast(coalesce(csize, 1) as double)) * 1000000.0D + 0.5D)"
            " / 1000000.0D"
        ).alias("effective_docs"),
    )


@register(
    "t_ngram_novelty",
    oracle=f"""
    WITH {_SH_CTES},
    first_seen AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
    per_doc AS (
      SELECT sh.doc_id,
             count(*) AS n_shingles,
             CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM sh JOIN first_seen f USING (shingle)
      GROUP BY sh.doc_id
    )
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_novel,
           floor((CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE)) * 1000000.0 + 0.5)
             / 1000000.0 AS novelty
    FROM per_doc
    """,
    tags=("DEDUP-ngram", "TXT-quality", "A13"),
    doc="N-gram novelty scoring: per doc, the fraction of its hashed "
    "3-gram shingles whose FIRST occurrence (min doc_id — arrival order) "
    "is this doc — the curation signal that separates fresh content from "
    "recombinations of already-seen text (near 1 = novel, near 0 = "
    "derivative). One combinable min per shingle + one shingle-key join + "
    "per-doc counts; the first-seen dim is vocabulary-sized.",
)
def t_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _sh(spark, sf_dir)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        "n_novel",
        F.expr(
            "floor((cast(n_novel as double) / cast(n_shingles as double))"
            " * 1000000.0D + 0.5D) / 1000000.0D"
        ).alias("novelty"),
    )


@register(
    "d_lsh_recall_curve",
    oracle=f"""
    WITH samp AS (
      SELECT doc_id, text FROM documents
      WHERE {rng_uniform_sql('doc_id', salt=91)} < 0.5
    ),
    base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM samp),
    tok_long AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok FROM base
    ),
    dimh AS (
      SELECT tok, {poly_hash_duck_expr('tok')} AS h FROM (SELECT DISTINCT tok FROM tok_long)
    ),
    tl AS (SELECT doc_id, pos, h FROM tok_long JOIN dimh USING (tok)),
    tri AS (
      SELECT doc_id, h AS h1, lead(h, 1) OVER w AS h2, lead(h, 2) OVER w AS h3
      FROM tl WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ((((h1 * {DD.SHINGLE_MULT} + h2) % {M}) * {DD.SHINGLE_MULT}) + h3) % {M} AS shingle
      FROM tri WHERE h3 IS NOT NULL
    ),
    {_SHF_CTE},
    ex AS (SELECT doc_id, shingle FROM shf),
    {_JACCARD_TAIL},
    truth AS (SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.1),
    sig AS (SELECT doc_id, {_sig_cols()} FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, CAST(b AS INTEGER) AS b, {_band_case()} AS band_key
      FROM sig, (SELECT unnest(range(0, {DD.N_BANDS})) AS b)
    ),
    ranked AS (
      SELECT doc_id, b, band_key,
             row_number() OVER (PARTITION BY b, band_key ORDER BY doc_id) AS rk
      FROM bands
    ),
    capped AS (SELECT * FROM ranked WHERE rk <= {DD.LSH_BUCKET_CAP}),
    cands AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM capped a JOIN capped b
        ON a.b = b.b AND a.band_key = b.band_key
       AND b.rk - a.rk BETWEEN 1 AND {DD.LSH_NEIGHBORHOOD}
      GROUP BY 1, 2
    ),
    hit AS (
      SELECT t.d1, t.d2, t.jaccard,
             CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END AS caught
      FROM truth t LEFT JOIN cands c ON t.d1 = c.d1 AND t.d2 = c.d2
    )
    SELECT CAST(least(floor(jaccard * 10.0), 9) AS INTEGER) AS j_bucket,
           count(*) AS n_pairs,
           CAST(sum(caught) AS BIGINT) AS n_caught,
           floor((CAST(sum(caught) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS recall
    FROM hit GROUP BY 1
    """,
    tags=("DEDUP-minhash", "DEDUP-ngram", "M24"),
    doc="LSH calibration S-curve: on a seeded 50% doc sample, the exact "
    "inverted-index Jaccard pairs (>= 0.1) are the ground truth and the "
    "bounded MinHash-LSH candidate set is the system under test — per "
    "0.1-wide Jaccard bucket, pair count and candidate recall. This is "
    "the detection-probability curve every MinHash deployment tunes "
    "(bands x rows) against; exact all-pairs truth is only feasible on a "
    "sample, which is exactly how it is run at 100 TB.",
)
def d_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc shingles are independent of other docs, so shingling the
    # sampled docs == filtering the session-persisted index by sampled ids
    sh = _sh(spark, sf_dir).filter(rng_uniform(F.col("doc_id"), salt=91) < 0.5)
    truth = DD.jaccard_pairs(sh, min_jaccard=0.1).select("d1", "d2", "jaccard")
    # signatures are per-doc: the sample's bands == the session band memo
    # filtered to sampled ids (no second signature groupBy)
    bands = _mh_bands(spark, sf_dir).filter(rng_uniform(F.col("doc_id"), salt=91) < 0.5)
    cands = DD.lsh_candidate_pairs(bands).withColumn("_c", F.lit(1))
    hit = truth.join(cands, ["d1", "d2"], "left")
    bucket = F.least(F.floor(F.col("jaccard") * 10.0), F.lit(9)).cast("int")
    caught = F.when(F.col("_c").isNotNull(), 1).otherwise(0)
    return (
        hit.withColumn("j_bucket", bucket)
        .withColumn("caught", caught)
        .groupBy("j_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("caught").cast("bigint").alias("n_caught"),
            F.expr(
                "floor((cast(sum(caught) as double) / cast(count(1) as double))"
                " * 1000000.0D + 0.5D) / 1000000.0D"
            ).alias("recall"),
        )
    )


@register(
    "u_rendezvous_shards",
    oracle=f"""
    WITH s8 AS (
      SELECT doc_id,
             (SELECT k FROM (SELECT unnest(range(0, 8)) AS k) g
              ORDER BY {rng_uniform_sql('doc_id', 'k', salt=97)} DESC, k ASC LIMIT 1) AS shard8
      FROM documents
    ),
    s9 AS (
      SELECT doc_id,
             (SELECT k FROM (SELECT unnest(range(0, 9)) AS k) g
              ORDER BY {rng_uniform_sql('doc_id', 'k', salt=97)} DESC, k ASC LIMIT 1) AS shard9
      FROM documents
    )
    SELECT CAST(s9.shard9 AS INTEGER) AS shard,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN s8.shard8 != s9.shard9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
    FROM s8 JOIN s9 USING (doc_id)
    GROUP BY 1
    """,
    tags=("U3", "F8", "S6"),
    doc="Rendezvous (highest-random-weight) shard assignment: shard = "
    "argmax over shards of the seeded draw(doc, shard) — the consistent "
    "placement scheme where growing 8 -> 9 shards moves ONLY the docs "
    "whose new shard wins (~n/9, vs hash-mod's ~8n/9 reshuffle). Output: "
    "per-shard occupancy at k=9 plus how many of its docs moved in the "
    "expansion — the minimal-movement property made measurable. Pure "
    "column math over a static 9-element array; no join, no shuffle "
    "beyond the rollup.",
)
def u_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rng import rng_uniform_sql as _rs

    d = _docs(spark, sf_dir).select("doc_id")

    def argmax_shard(n: int) -> str:
        draw = _rs("doc_id", "k", salt=97, dialect="spark")
        return (
            f"(aggregate(transform(sequence(0, {n - 1}), k -> named_struct('w', {draw}, 'k', k)), "
            f"named_struct('w', cast(-1.0 as double), 'k', -1), "
            f"(acc, s) -> CASE WHEN s.w > acc.w THEN s ELSE acc END)).k"
        )

    out = d.select(
        "doc_id",
        F.expr(argmax_shard(8)).alias("shard8"),
        F.expr(argmax_shard(9)).alias("shard9"),
    )
    return out.groupBy(F.col("shard9").cast("int").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_moved"),
    )


@register(
    "d_minhash_est_error",
    oracle=f"""
    WITH {_SH_CTES},
    sig AS (SELECT doc_id, {_sig_cols()} FROM sh GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, b, band_key,
             row_number() OVER (PARTITION BY b, band_key ORDER BY doc_id) AS rk
      FROM (
        SELECT doc_id, CAST(b AS INTEGER) AS b, {_band_case()} AS band_key
        FROM sig, (SELECT unnest(range(0, {DD.N_BANDS})) AS b)
      )
    ),
    capped AS (SELECT * FROM ranked WHERE rk <= {DD.LSH_BUCKET_CAP}),
    cands AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM capped a JOIN capped b
        ON a.b = b.b AND a.band_key = b.band_key
       AND b.rk - a.rk BETWEEN 1 AND {DD.LSH_NEIGHBORHOOD}
      GROUP BY 1, 2
    ),
    ids AS (SELECT d1 AS doc_id FROM cands UNION SELECT d2 FROM cands),
    {_SHF_CTE},
    ex AS (SELECT doc_id, shingle FROM shf WHERE doc_id IN (SELECT doc_id FROM ids)),
    {_JACCARD_TAIL},
    pairs AS (
      SELECT j.d1, j.d2, j.jaccard FROM jac j
      JOIN cands c ON j.d1 = c.d1 AND j.d2 = c.d2
      WHERE j.jaccard >= 0.2
    ),
    est AS (
      SELECT p.d1, p.d2, p.jaccard,
             ({" + ".join(f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(DD.N_HASHES))})
               / {float(DD.N_HASHES)} AS j_est
      FROM pairs p JOIN sig a ON p.d1 = a.doc_id JOIN sig b ON p.d2 = b.doc_id
    )
    SELECT CAST(least(floor(jaccard * 10.0), 9) AS INTEGER) AS j_bucket,
           count(*) AS n_pairs,
           floor((sum(j_est) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS mean_est,
           floor((CAST(sum(CAST(floor(abs(j_est - jaccard) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                  / 1000000000.0 / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS mean_abs_err
    FROM est GROUP BY 1
    """,
    tags=("DEDUP-minhash", "M24"),
    doc="MinHash ESTIMATOR accuracy: for every verified near-dup pair, the "
    "signature-agreement estimate (matching mins / 16) against the exact "
    "Jaccard — per 0.1-bucket mean estimate and mean absolute error, the "
    "companion readout to d_lsh_recall_curve (that one calibrates "
    "detection, this one calibrates the ESTIMATE a dedup threshold trusts "
    "when skipping exact verification at scale). j_est is an exact "
    "16-denominator rational — identical in both engines; bucket stats "
    "quantized 1e-6. Signature join is two id-key hash joins on the "
    "memoized pair set.",
)
def d_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    sh = DD.shingle_hashes(d)
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.pmod(F.col("shingle") * (2 * j + 3) + (5 * j + 1), F.lit(M))
            ).alias(f"s{j}")
            for j in range(DD.N_HASHES)
        ]
    )
    pairs = _mh_pairs_02(spark, sf_dir).select("d1", "d2", "jaccard")
    a = sig.select(F.col("doc_id").alias("d1"), *[F.col(f"s{i}").alias(f"a{i}") for i in range(DD.N_HASHES)])
    b = sig.select(F.col("doc_id").alias("d2"), *[F.col(f"s{i}").alias(f"b{i}") for i in range(DD.N_HASHES)])
    est_expr = None
    for i in range(DD.N_HASHES):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        est_expr = term if est_expr is None else est_expr + term
    j = (
        pairs.join(a.hint("shuffle_hash"), "d1")
        .join(b.hint("shuffle_hash"), "d2")
        .withColumn("j_est", est_expr.cast("double") / F.lit(float(DD.N_HASHES)))
    )
    bucket = F.least(F.floor(F.col("jaccard") * 10.0), F.lit(9)).cast("int")
    return (
        j.withColumn("j_bucket", bucket)
        .groupBy("j_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr(
                "floor((sum(j_est) / count(1)) * 1000000.0D + 0.5D) / 1000000.0D"
            ).alias("mean_est"),
            # per-term 1e-9 quantization before the integer sum: j_est is an
            # exact k/16 but (j_est - jaccard) is not, so a raw float sum
            # would be partitioning-order-dependent
            F.expr(
                "floor((cast(sum(cast(floor(abs(j_est - jaccard) * 1000000000.0D"
                " + 0.5D) as bigint)) as double) / 1000000000.0D / count(1))"
                " * 1000000.0D + 0.5D) / 1000000.0D"
            ).alias("mean_abs_err"),
        )
    )


_POLY = poly_hash_duck_expr("s")


@register(
    "d_simhash",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS s FROM documents),
    h AS (SELECT doc_id, {_POLY} AS h FROM t),
    b AS (SELECT doc_id, h, g.bit FROM h, (SELECT unnest(range(0, 32)) AS bit) g),
    v AS (
      SELECT doc_id, bit,
             sum(CASE WHEN CAST(floor(h / power(2.0, bit)) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM b GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN CAST(power(2.0, bit) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM v GROUP BY doc_id
    """,
    tags=("DEDUP-simhash",),
    doc="32-bit SimHash from polynomial token hashes (±1 bit votes).",
)
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash(_docs(spark, sf_dir))


_QUALITY = f"""(0.4 * (CAST(len(list_filter({_TOKS}, x -> x IN ({_STOP}))) AS DOUBLE)
                        / CAST(len({_TOKS}) AS DOUBLE))
               + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                        / CAST(len({_TOKS}) AS DOUBLE)))"""

_PRED_LANG = f"""CASE WHEN length(regexp_replace(text, '[^\\x{{{{4e00}}}}-\\x{{{{9fff}}}}]', '', 'g')) > 0 THEN 'zh'
         WHEN {{en}} >= greatest({{fr}}, {{de}}, {{es}}) AND {{en}} > 0 THEN 'en'
         WHEN {{fr}} >= greatest({{de}}, {{es}}) AND {{fr}} > 0 THEN 'fr'
         WHEN {{de}} >= {{es}} AND {{de}} > 0 THEN 'de'
         WHEN {{es}} > 0 THEN 'es'
         ELSE 'unknown' END"""


def _pred_lang_duck() -> str:
    hits = {}
    for lang, words in TX.LANG_MARKERS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        hits[lang] = f"CAST(len(list_filter({_TOKS}, x -> x IN ({arr}))) AS INTEGER)"
    return _PRED_LANG.format(**hits)


@register(
    "pipeline_corpus_filter",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rk,
             {_QUALITY} AS quality,
             {_pred_lang_duck()} AS pred_lang,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cls AS (
      SELECT pred_lang,
             CASE WHEN rk > 1 THEN 'dup'
                  WHEN quality < 0.5 THEN 'low_quality'
                  ELSE 'kept' END AS stage,
             n_tokens, quality
      FROM staged
    )
    SELECT pred_lang, stage, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           (floor(({dsum_sql('quality')} / count(*)) * 1000000.0 + 0.5) / 1000000.0) AS avg_quality
    FROM cls GROUP BY 1, 2
    """,
    tags=("TXT-quality", "TXT-langid", "DEDUP-exact", "U5", "A13"),
    doc="The LLM-training-corpus filter pipeline as ONE plan: exact dedup "
    "(keep-first per text) -> quality gate (q >= 0.5) -> language routing; "
    "per (lang, stage) accounting of docs and token volume. Composes the "
    "dedup/quality/langid operators the way a 100 TB ingest would.",
)
def pipeline_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.exact import dsum, qround

    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id",
        F.row_number().over(W.partitionBy("text").orderBy("doc_id")).alias("rk"),
        TX.quality_score().alias("quality"),
        TX.predicted_lang().alias("pred_lang"),
        TX.token_count().cast("bigint").alias("n_tokens"),
    )
    stage = (
        F.when(F.col("rk") > 1, F.lit("dup"))
        .when(F.col("quality") < 0.5, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    return (
        staged.withColumn("stage", stage)
        .groupBy("pred_lang", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            qround(dsum("quality") / F.count(F.lit(1)), 6).alias("avg_quality"),
        )
    )


# --- PII scrub -----------------------------------------------------------
# The synthetic corpus carries no PII, so the query deterministically
# injects PII spans derived from doc fields — the identical concat
# expression in both engines — then redacts them. What is verified is the
# actual regex chain (operators/textops.PII_PATTERNS), not the injection.
_PII_FULL_SPARK = (
    "concat(text,"
    " CASE WHEN doc_id % 3 = 0 THEN concat(' contact ', source, doc_id, '@mail.example.org') ELSE '' END,"
    " CASE WHEN doc_id % 4 = 0 THEN concat(' call +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN concat(' from 10.', CAST(doc_id % 256 AS STRING), '.0.', CAST((doc_id * 7) % 256 AS STRING)) ELSE '' END,"
    " CASE WHEN doc_id % 2 = 0 THEN concat(' see https://docs.example.org/', source) ELSE '' END)"
)
_PII_FULL_DUCK = (
    "concat(text,"
    " CASE WHEN doc_id % 3 = 0 THEN concat(' contact ', source, doc_id, '@mail.example.org') ELSE '' END,"
    " CASE WHEN doc_id % 4 = 0 THEN concat(' call +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN concat(' from 10.', CAST(doc_id % 256 AS VARCHAR), '.0.', CAST((doc_id * 7) % 256 AS VARCHAR)) ELSE '' END,"
    " CASE WHEN doc_id % 2 = 0 THEN concat(' see https://docs.example.org/', source) ELSE '' END)"
)


def _pii_scrub_oracle() -> str:
    scrub = "ftext"
    counts = []
    for name, pat, token in TX.PII_PATTERNS:
        p = pat.replace("'", "''")
        counts.append(f"CAST(len(regexp_extract_all(ftext, '{p}')) AS BIGINT) AS {name}")
        scrub = f"regexp_replace({scrub}, '{p}', '{token}', 'g')"
    return f"""
    WITH f AS (SELECT doc_id, {_PII_FULL_DUCK} AS ftext FROM documents)
    SELECT doc_id, {', '.join(counts)}, md5({scrub}) AS scrubbed_md5
    FROM f
    """


@register(
    "t_pii_scrub",
    oracle=_pii_scrub_oracle,
    tags=("TXT-pii", "TXT-quality"),
    doc="PII redaction: URL -> EMAIL -> IP -> PHONE regexp_replace chain "
    "with per-pattern audit counts and an md5 over the scrubbed text. Pure "
    "JVM-side regex (no UDF); one narrow map stage, embarrassingly parallel "
    "at any scale. Patterns are portable Java-regex/RE2 subset; replacement "
    "tokens are uppercase so later patterns cannot re-match them.",
)
def t_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    full = d.select("doc_id", F.expr(_PII_FULL_SPARK).alias("full"))
    return full.select(
        "doc_id",
        *[c for c in TX.pii_counts("full")],
        F.md5(F.encode(TX.scrub_pii("full"), "UTF-8")).alias("scrubbed_md5"),
    )


@register(
    "d_fuzzy_edit_pairs",
    oracle=f"""
    WITH {_SH_CTES},
    sig AS (SELECT doc_id, {_sig_cols()} FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, CAST(b AS INTEGER) AS b, {_band_case()} AS band_key
      FROM sig, (SELECT unnest(range(0, {DD.N_BANDS})) AS b)
    ),
    ranked AS (
      SELECT doc_id, b, band_key,
             row_number() OVER (PARTITION BY b, band_key ORDER BY doc_id) AS rk
      FROM bands
    ),
    capped AS (SELECT * FROM ranked WHERE rk <= {DD.LSH_BUCKET_CAP}),
    cands AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM capped a JOIN capped b
        ON a.b = b.b AND a.band_key = b.band_key
       AND b.rk - a.rk BETWEEN 1 AND {DD.LSH_NEIGHBORHOOD}
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT d1, d2,
             CAST(levenshtein(t1.text, t2.text) AS BIGINT) AS lev,
             floor((CAST(levenshtein(t1.text, t2.text) AS DOUBLE)
                    / CAST(greatest(length(t1.text), length(t2.text)) AS DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0 AS rel_edit
      FROM cands JOIN documents t1 ON d1 = t1.doc_id
                 JOIN documents t2 ON d2 = t2.doc_id
    )
    SELECT d1, d2, lev, rel_edit FROM verified WHERE rel_edit <= 0.4
    """,
    tags=("DEDUP-fuzzy", "DEDUP-minhash", "J5"),
    doc="Blocked fuzzy matching: banded-MinHash buckets generate candidate "
    "pairs, Levenshtein verifies (catches character-level edits token-set "
    "Jaccard over-penalizes). Edit distance is O(len^2) per pair so it "
    "never runs all-pairs — only the bucket-bounded candidate set; both "
    "engines' levenshtein use identical unit-cost semantics.",
)
def d_fuzzy_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.fuzzy_edit_pairs(
        _docs(spark, sf_dir),
        max_rel_edit=0.4,
        sh=_sh(spark, sf_dir),
        bands=_mh_bands(spark, sf_dir),
        cands=_mh_cands(spark, sf_dir),
    )


@register(
    "d_containment_pairs",
    oracle=f"""
    WITH {_SH_CTES},
    {_SHF_CTE},
    ex AS (SELECT doc_id, shingle FROM shf),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, CAST(inter AS BIGINT) AS inter,
           CAST(s1.sz AS BIGINT) AS sz1, CAST(s2.sz AS BIGINT) AS sz2,
           CAST(inter AS DOUBLE) / CAST(least(s1.sz, s2.sz) AS DOUBLE) AS containment
    FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(inter AS DOUBLE) / CAST(least(s1.sz, s2.sz) AS DOUBLE) >= 0.3
    """,
    tags=("DEDUP-ngram",),
    doc="Shingle CONTAINMENT pairs (inter / min size) - the asymmetric "
    "near-dup measure Jaccard misses: a short doc quoted or templated "
    "inside a long one has diluted Jaccard but containment ~1 (the "
    "measure web-crawl dedup uses for quote/subset detection). Same "
    "inverted-index shape as the Jaccard query: intersections form only "
    "on shared integer shingle ids, never all-pairs, and hot shingles "
    "(df > greatest(5, n_docs div 100)) are anti-joined away first; one "
    "exact integer-over-integer division decides the threshold.",
)
def d_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _sh(spark, sf_dir)
    return DD.containment_pairs(sh, min_containment=0.3)


_PHRASE = ["hash", "join"]


@register(
    "t_phrase_search",
    oracle=f"""
    WITH tl AS (
      SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos, unnest(l) AS tok
      FROM (SELECT doc_id, {_TOKS} AS l FROM documents)
    ),
    t0 AS (SELECT doc_id, pos AS p0 FROM tl WHERE tok = '{_PHRASE[0]}'),
    t1 AS (SELECT doc_id, pos - 1 AS p1 FROM tl WHERE tok = '{_PHRASE[1]}'),
    m AS (
      SELECT t0.doc_id, p0 FROM t0
      JOIN t1 ON t0.doc_id = t1.doc_id AND t0.p0 = t1.p1
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(p0) AS INTEGER) AS first_pos
    FROM m GROUP BY 1
    """,
    tags=("TXT-tokens", "J1", "W2"),
    doc="Positional-index phrase search ('hash join' as an exact token "
    "sequence): per-term postings are pushed-down filters over the "
    "positional explosion, adjacency is an equi-join on (doc, pos+1) - "
    "skewless keys, AQE-sized - and the per-doc rollup is combinable. "
    "|phrase|-1 joins, never a string scan of whole documents.",
)
def t_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.phrase_search(_docs(spark, sf_dir), _PHRASE)


PMI_MIN_COUNT = 5
PMI_TOP_K = 40


@register(
    "t_pmi_collocations",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tl AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok FROM base
    ),
    bg AS (
      SELECT tok AS w1, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tl
    ),
    uni AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS c FROM tl GROUP BY 1),
    pairs AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
      FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_tok,
             (SELECT CAST(sum(c_ab) AS BIGINT) FROM pairs) AS n_big
      FROM uni
    )
    SELECT w1, w2, c_ab,
           floor(ln(CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)
                    / (CAST(n_big AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS pmi
    FROM pairs
    JOIN uni u1 ON w1 = u1.w
    JOIN uni u2 ON w2 = u2.w
    CROSS JOIN tot
    WHERE c_ab >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT {PMI_TOP_K}
    """,
    tags=("TXT-tokens", "A10", "O3"),
    doc="PMI collocations: top adjacent word pairs by pointwise mutual "
    "information ln(c_ab*N^2 / (B*c_a*c_b)) with a min-count floor "
    "(rare-pair PMI is noise) - the classic phrase-mining readout. "
    "Combinable unigram/bigram counts, two token-keyed joins, broadcast "
    "1-row totals; the PMI double is the same IEEE expression in both "
    "engines (ln of a ratio of exact integer counts), quantized 1e-6; "
    "top-k is TakeOrdered with a lexicographic tiebreak.",
)
def t_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = DD.token_long(_docs(spark, sf_dir))
    w = W.partitionBy("doc_id").orderBy("pos")
    bg = tl.select("doc_id", "pos", F.col("tok").alias("w1"), F.lead("tok").over(w).alias("w2"))
    uni = tl.groupBy(F.col("tok").alias("w")).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    pairs = (
        bg.filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n_tok"))
    big = bg.filter(F.col("w2").isNotNull()).agg(F.count(F.lit(1)).cast("bigint").alias("n_big"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("_c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("_c2"))
    pmi = F.expr(
        "floor(ln(CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)"
        " / (CAST(n_big AS DOUBLE) * CAST(_c1 AS DOUBLE) * CAST(_c2 AS DOUBLE)))"
        " * 1000000.0D + 0.5D) / 1000000.0D"
    )
    return (
        pairs.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(big))
        .withColumn("pmi", pmi)
        .select("w1", "w2", "c_ab", "pmi")
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(PMI_TOP_K)
    )


INCR_DELTA_FRAC = 0.1
INCR_SALT = 171
INCR_BUCKET_CAP = 256  # corpus-side members considered per (band, bucket)
# The simulated ingest batch is bounded in ABSOLUTE size (a real delta is a
# day's ingest, not a corpus fraction) — without this the broadcast delta
# grows linearly with the corpus and OOMs at crawl scale. At sf0.01 the cap
# is slack (~50 new docs); at sf0.1 it binds (~500 → 256).
INCR_DELTA_CAP = 256


@register(
    "d_incremental_dedup",
    oracle=f"""
    WITH {_SH_CTES},
    sig AS (SELECT doc_id, {_sig_cols()} FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, CAST(b AS INTEGER) AS b, {_band_case()} AS band_key,
             CASE WHEN {rng_uniform_sql('doc_id', salt=INCR_SALT)} < {INCR_DELTA_FRAC}
                  THEN 1 ELSE 0 END AS is_new
      FROM sig, (SELECT unnest(range(0, {DD.N_BANDS})) AS b)
    ),
    new_docs AS (
      SELECT DISTINCT doc_id FROM bands WHERE is_new = 1
      ORDER BY doc_id LIMIT {INCR_DELTA_CAP}
    ),
    corpus_r AS (
      SELECT doc_id, b, band_key,
             row_number() OVER (PARTITION BY b, band_key ORDER BY doc_id) AS rk
      FROM bands WHERE is_new = 0
    ),
    cands AS (
      SELECT n.doc_id AS d_new, c.doc_id AS d_old
      FROM (SELECT bd.doc_id, bd.b, bd.band_key FROM bands bd
            JOIN new_docs nd ON bd.doc_id = nd.doc_id) n
      JOIN corpus_r c ON n.b = c.b AND n.band_key = c.band_key
       AND c.rk <= {INCR_BUCKET_CAP}
      GROUP BY 1, 2
    ),
    ids AS (SELECT d_new AS doc_id FROM cands UNION SELECT d_old FROM cands),
    {_SHF_CTE},
    ex AS (SELECT doc_id, shingle FROM shf WHERE doc_id IN (SELECT doc_id FROM ids)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1),
    inter AS (
      SELECT cd.d_new, cd.d_old, count(*) AS inter
      FROM cands cd
      JOIN ex a ON a.doc_id = cd.d_new
      JOIN ex b ON b.doc_id = cd.d_old AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT d_new, d_old, CAST(inter AS BIGINT) AS inter,
           CAST(s1.sz AS BIGINT) AS sz_new, CAST(s2.sz AS BIGINT) AS sz_old,
           CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes s1 ON d_new = s1.doc_id
    JOIN sizes s2 ON d_old = s2.doc_id
    WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.5
    """,
    tags=("DEDUP-minhash", "J5", "U5"),
    doc="Incremental near-dedup: a 10% delta of NEW documents deduplicated "
    "against the standing corpus - the shape an ingest pipeline actually "
    "runs at 100 TB (the corpus never self-joins; only new-vs-old pairs "
    "form). The simulated batch is bounded ABSOLUTELY (TakeOrdered cap of "
    "256 docs - a real delta is a day's ingest, not a corpus fraction), so "
    "the delta band keys that BROADCAST against the corpus band index are "
    "<= 256 x N_BANDS rows at any corpus size; corpus bucket membership is "
    "rank-capped at 256 per (band, bucket), and the verify computes "
    "per-candidate-pair intersections over the df-capped shingle space - "
    "cost linear in delta size, independent of corpus self-similarity.",
)
def d_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _sh(spark, sf_dir)
    bands = _mh_bands(spark, sf_dir).withColumn(
        "is_new", rng_uniform(F.col("doc_id"), salt=INCR_SALT) < INCR_DELTA_FRAC
    )
    # Absolute batch bound: TakeOrderedAndProject (per-partition top-k, k
    # rows of driver state) — never a global window; makes the broadcast
    # below <= INCR_DELTA_CAP * N_BANDS rows at any corpus size.
    new_ids = (
        bands.filter(F.col("is_new"))
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
        .limit(INCR_DELTA_CAP)
    )
    delta = (
        bands.join(new_ids, "doc_id", "left_semi")
        .select(F.col("doc_id").alias("d_new"), "band", "band_key")
    )
    rk = F.row_number().over(W.partitionBy("band", "band_key").orderBy("doc_id"))
    corpus = (
        bands.filter(~F.col("is_new"))
        .withColumn("_rk", rk)
        .filter(F.col("_rk") <= INCR_BUCKET_CAP)
        .select(F.col("doc_id").alias("d_old"), "band", "band_key")
    )
    cands = (
        corpus.join(F.broadcast(delta), ["band", "band_key"])
        .select("d_new", "d_old")
        .distinct()
    )
    shf = DD.df_capped_shingles(sh)
    sizes = shf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    e_new = shf.select(F.col("doc_id").alias("d_new"), "shingle")
    e_old = shf.select(F.col("doc_id").alias("d_old"), "shingle")
    inter = (
        cands.join(e_new.hint("shuffle_hash"), "d_new")
        .join(e_old.hint("shuffle_hash"), ["d_old", "shingle"])
        .groupBy("d_new", "d_old")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d_new"), F.col("sz").alias("sz_new"))
    s2 = sizes.select(F.col("doc_id").alias("d_old"), F.col("sz").alias("sz_old"))
    jac = F.col("inter").cast("double") / (
        F.col("sz_new") + F.col("sz_old") - F.col("inter")
    ).cast("double")
    return (
        inter.join(s1.hint("shuffle_hash"), "d_new")
        .join(s2.hint("shuffle_hash"), "d_old")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select(
            "d_new",
            "d_old",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("sz_new").cast("bigint").alias("sz_new"),
            F.col("sz_old").cast("bigint").alias("sz_old"),
            "jaccard",
        )
    )


TEXTRANK_TOP_K = 20
TEXTRANK_ITERS = 5


def _textrank_oracle() -> str:
    """Unrolled fixed-point PageRank over the word co-occurrence graph
    (window ±2 over the stopword-filtered token stream, canonical
    undirected pairs symmetrized) — the g_pagerank integer-lattice replay
    on a text graph."""
    ctes = [
        f"""base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tl AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok FROM base
    ),
    seq AS (
      SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p, tok
      FROM tl WHERE tok NOT IN ({_STOP})
    ),
    und AS (
      SELECT DISTINCT least(a.tok, b.tok) AS u, greatest(a.tok, b.tok) AS v
      FROM seq a JOIN seq b
        ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND 2 AND a.tok <> b.tok
    )""",
        "edges AS (SELECT u AS src, v AS dst FROM und UNION ALL SELECT v, u FROM und)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)",
        "ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src))",
        "nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges)",
        "nn AS (SELECT count(*) AS n_nodes FROM nodes)",
        "r0 AS (SELECT node, CAST((SELECT 1000000000 // n_nodes FROM nn) AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(1, TEXTRANK_ITERS + 1):
        ctes.append(
            f"""s{i} AS (
      SELECT e.dst AS node, sum(r.r // e.deg) AS S
      FROM ed e JOIN r{i - 1} r ON e.src = r.node
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.node,
             CAST((SELECT 150000000 // n_nodes FROM nn)
                  + (85 * coalesce(s.S, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN s{i} s ON n.node = s.node
    )"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT node AS word, r AS rank_q, CAST(r AS DOUBLE) / 1000000000.0 AS rank
    FROM r{TEXTRANK_ITERS}
    ORDER BY rank_q DESC, word ASC
    LIMIT {TEXTRANK_TOP_K}
    """
    )


@register(
    "t_textrank_keywords",
    oracle=_textrank_oracle,
    tags=("TXT-tokens", "DEDUP-cc", "O3"),
    doc="TextRank keyword extraction - fixed-point PageRank composed over "
    "the word co-occurrence graph (window +-2 on the stopword-filtered "
    "token stream, canonical undirected pairs symmetrized): the graph "
    "operator family applied to text, reusing the 1e-9 integer-lattice "
    "PageRank so every round replays exactly in the oracle's unrolled "
    "CTEs. Per round one hash join + one combinable aggregate; window "
    "neighbors come from two lead() columns over per-doc windows (linear, "
    "never a per-doc quadratic self-join); top-20 is TakeOrdered.",
)
def t_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import pagerank_fixed_point

    tl = DD.token_long(_docs(spark, sf_dir))
    w = W.partitionBy("doc_id").orderBy("pos")
    seq = tl.filter(~F.col("tok").isin(*TX.STOPWORDS)).withColumn(
        "p", F.row_number().over(w)
    )
    wp = W.partitionBy("doc_id").orderBy("p")
    nb = seq.select(
        "doc_id",
        F.col("tok").alias("a"),
        F.lead("tok", 1).over(wp).alias("n1"),
        F.lead("tok", 2).over(wp).alias("n2"),
    )
    raw = nb.select(F.col("a"), F.col("n1").alias("b")).unionAll(
        nb.select(F.col("a"), F.col("n2").alias("b"))
    ).filter(F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    und = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    pr = pagerank_fixed_point(edges, iters=TEXTRANK_ITERS)
    return (
        pr.select(F.col("node").alias("word"), "rank_q", "rank")
        .orderBy(F.col("rank_q").desc(), F.col("word").asc())
        .limit(TEXTRANK_TOP_K)
    )


SIMHASH_MAX_HAMMING = 3


@register(
    "d_simhash_hamming_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS s FROM documents),
    h AS (SELECT doc_id, {_POLY} AS h FROM t),
    b AS (SELECT doc_id, h, g.bit FROM h, (SELECT unnest(range(0, 32)) AS bit) g),
    v AS (
      SELECT doc_id, bit,
             sum(CASE WHEN CAST(floor(h / power(2.0, bit)) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM b GROUP BY 1, 2
    ),
    sim AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN CAST(power(2.0, bit) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS sh
      FROM v GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, sh, g.bd, (sh // CAST(power(2.0, 8 * g.bd) AS BIGINT)) % 256 AS bv
      FROM sim, (SELECT unnest(range(0, 4)) AS bd) g
    ),
    ranked AS (
      SELECT doc_id, sh, bd, bv,
             row_number() OVER (PARTITION BY bd, bv ORDER BY doc_id) AS rk
      FROM bands
    ),
    capped AS (SELECT * FROM ranked WHERE rk <= {DD.LSH_BUCKET_CAP}),
    cands AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, any_value(a.sh) AS h1, any_value(b.sh) AS h2
      FROM capped a JOIN capped b
        ON a.bd = b.bd AND a.bv = b.bv
       AND b.rk - a.rk BETWEEN 1 AND {DD.LSH_NEIGHBORHOOD}
      GROUP BY 1, 2
    )
    SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
    FROM cands WHERE bit_count(xor(h1, h2)) <= {SIMHASH_MAX_HAMMING}
    """,
    tags=("DEDUP-simhash", "J5"),
    doc="SimHash Hamming near-pairs: docs whose 32-bit SimHash differs in "
    "<= 3 bits. Pigeonhole blocking - distance <= 3 over 4 bands of 8 bits "
    "guarantees at least one band matches exactly - so candidates come "
    "from an EQUI-join on (band, band_value), bounded by the same bucket "
    "cap + sorted-neighborhood window as the MinHash path (hot bands are "
    "where SimHash stops discriminating); verify is one bit_count(xor) "
    "per candidate. Never an all-pairs Hamming scan.",
)
def d_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = DD.simhash(_docs(spark, sf_dir)).withColumnRenamed("simhash", "sh")
    bands = sim.select(
        "doc_id",
        "sh",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("bd"),
    ).withColumn("bv", F.expr("shiftright(sh, CAST(bd * 8 AS INT)) & 255"))
    rk = F.row_number().over(W.partitionBy("bd", "bv").orderBy("doc_id"))
    ranked = bands.withColumn("rk", rk).filter(F.col("rk") <= DD.LSH_BUCKET_CAP)
    a = ranked.alias("a")
    b = ranked.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.bd") == F.col("b.bd"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("b.rk") - F.col("a.rk")).between(1, DD.LSH_NEIGHBORHOOD),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.any_value(F.col("a.sh")).alias("h1"), F.any_value(F.col("b.sh")).alias("h2"))
    )
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cands.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("d1", "d2", "hamming")
    )


@register(
    "d_sim_topk_per_doc",
    oracle=f"""
    WITH {_MH_P02_CTES},
    sym AS (
      SELECT d1 AS doc_id, d2 AS nbr, jaccard FROM p02
      UNION ALL
      SELECT d2 AS doc_id, d1 AS nbr, jaccard FROM p02
    ),
    rk AS (
      SELECT doc_id, nbr, jaccard,
             row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, nbr ASC) AS rank
      FROM sym
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, nbr, jaccard FROM rk WHERE rank <= 3
    """,
    tags=("DEDUP-minhash", "O3", "J5"),
    doc="Per-document similarity shortlist: each doc's top-3 verified "
    "near-duplicate neighbors (exact Jaccard over LSH candidates, >= 0.2), "
    "symmetrized from the session pair memo - the 'show me what this doc "
    "duplicates' lookup a curation UI runs. The rank window partitions by "
    "doc (never global), ties broken by neighbor id; cost is a pure filter "
    "+ window over the already-bounded candidate pair set.",
)
def d_sim_topk_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _mh_pairs_02(spark, sf_dir)
    sym = p.select(
        F.col("d1").alias("doc_id"), F.col("d2").alias("nbr"), "jaccard"
    ).unionAll(p.select(F.col("d2").alias("doc_id"), F.col("d1").alias("nbr"), "jaccard"))
    w = W.partitionBy("doc_id").orderBy(F.col("jaccard").desc(), F.col("nbr").asc())
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "nbr", "jaccard")
    )


BLOOM_SPLIT_SALT = 191
BLOOM_POS_SALT = 193
BLOOM_M_BITS = 4096
BLOOM_N_HASH = 3
BLOOM_DELTA_FRAC = 0.1


def _bloom_pos_sqls() -> list[str]:
    return [
        f"(({rng_draw_sql('_h', salt=BLOOM_POS_SALT + i)}) % {BLOOM_M_BITS})"
        for i in range(BLOOM_N_HASH)
    ]


@register(
    "d_bloom_new_docs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, {poly_hash_duck_expr('text')} AS _h,
             CASE WHEN {rng_uniform_sql('doc_id', salt=BLOOM_SPLIT_SALT)} < {BLOOM_DELTA_FRAC}
                  THEN 1 ELSE 0 END AS is_new
      FROM documents
    ),
    cpos AS (
      {" UNION ".join(f"SELECT DISTINCT {p} AS p FROM base WHERE is_new = 0" for p in _bloom_pos_sqls())}
    ),
    probe AS (
      SELECT d.doc_id,
             CASE WHEN {" AND ".join(f"{p} IN (SELECT p FROM cpos)" for p in _bloom_pos_sqls())}
                  THEN 1 ELSE 0 END AS flagged,
             CASE WHEN EXISTS (SELECT 1 FROM base c WHERE c.is_new = 0 AND c.text = d.text)
                  THEN 1 ELSE 0 END AS true_dup
      FROM base d WHERE d.is_new = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_delta,
           CAST(sum(flagged) AS BIGINT) AS n_flagged,
           CAST(sum(true_dup) AS BIGINT) AS n_true_dup,
           CAST(sum(CASE WHEN flagged = 1 AND true_dup = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM probe
    """,
    tags=("DEDUP-exact", "U5", "A14"),
    doc="Bloom-filter ingest dedup, the O(1)-state membership screen an "
    "ingest pipeline runs before any join: the standing corpus's text "
    "fingerprints populate a 4096-bit bitmap (seeded-RNG bit positions, "
    "aggregate-HOF fold - kilobytes broadcast to every task regardless of "
    "corpus size); the simulated delta probes it (no false negatives by "
    "construction) and the query accounts flagged vs truly-duplicate vs "
    "false-positive docs. The oracle replays bit membership as position-set "
    "semi-joins - same semantics, no bitmap - so a defect in the bitmap "
    "fold or the shift probe hash-mismatches.",
)
def d_bloom_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text").withColumn(
        "_h", F.expr(poly_hash_sql_expr("text"))
    ).withColumn(
        "is_new", rng_uniform(F.col("doc_id"), salt=BLOOM_SPLIT_SALT) < BLOOM_DELTA_FRAC
    )
    pos = [
        F.pmod(rng_draw(F.col("_h"), salt=BLOOM_POS_SALT + i), F.lit(BLOOM_M_BITS))
        for i in range(BLOOM_N_HASH)
    ]
    corpus = docs.filter(~F.col("is_new"))
    n_words = BLOOM_M_BITS // 64
    positions = corpus.select(F.explode(F.array(*pos)).alias("p")).distinct()
    bloom = positions.agg(
        F.expr(
            f"aggregate(collect_set(p), array_repeat(0L, {n_words}), "
            "(acc, p) -> transform(acc, (w, i) -> "
            "IF(i = CAST(p div 64 AS INT), w | shiftleft(1L, CAST(p % 64 AS INT)), w)))"
        ).alias("bloom")
    )
    flag_sql = " AND ".join(
        f"((element_at(bloom, CAST(_p{i} div 64 AS INT) + 1)"
        f" >> CAST(_p{i} % 64 AS INT)) & 1) = 1"
        for i in range(BLOOM_N_HASH)
    )
    ctexts = corpus.select("text").distinct().withColumn("_dup", F.lit(1))
    probe = (
        docs.filter(F.col("is_new"))
        .select("doc_id", "text", *[p.alias(f"_p{i}") for i, p in enumerate(pos)])
        .crossJoin(F.broadcast(bloom))
        .withColumn("flagged", F.when(F.expr(flag_sql), 1).otherwise(0))
        .join(ctexts.hint("shuffle_hash"), "text", "left")
        .withColumn("true_dup", F.when(F.col("_dup").isNotNull(), 1).otherwise(0))
    )
    return probe.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_delta"),
        F.sum("flagged").cast("bigint").alias("n_flagged"),
        F.sum("true_dup").cast("bigint").alias("n_true_dup"),
        F.sum(F.when((F.col("flagged") == 1) & (F.col("true_dup") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    )


@register(
    "d_cross_source_overlap",
    oracle=f"""
    WITH {_SH_CTES},
    ss AS (
      SELECT DISTINCT d.source, s.shingle
      FROM sh s JOIN documents d ON s.doc_id = d.doc_id
    ),
    sz AS (SELECT source, count(*) AS sz FROM ss GROUP BY 1),
    inter AS (
      SELECT a.source AS s1, b.source AS s2, count(*) AS inter
      FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s1, s2, CAST(inter AS BIGINT) AS inter,
           CAST(za.sz AS BIGINT) AS sz1, CAST(zb.sz AS BIGINT) AS sz2,
           CAST(inter AS DOUBLE) / CAST(least(za.sz, zb.sz) AS DOUBLE) AS containment,
           CAST(inter AS DOUBLE) / CAST(za.sz + zb.sz - inter AS DOUBLE) AS jaccard
    FROM inter JOIN sz za ON s1 = za.source JOIN sz zb ON s2 = zb.source
    """,
    tags=("DEDUP-ngram", "A13", "U5"),
    doc="Cross-dataset overlap matrix: pairwise shingle containment and "
    "Jaccard BETWEEN sources - the corpus-level contamination scan run "
    "before mixing datasets into a training blend. The shingle self-join "
    "is keyed on source-distinct shingles, so a shingle of source-"
    "frequency f emits C(f,2) <= C(n_sources,2) rows - bounded by the "
    "SOURCE count squared, independent of corpus size; per-source set "
    "sizes come from one combinable aggregate; integer arithmetic "
    "throughout.",
)
def d_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    ss = (
        _sh(spark, sf_dir)
        .join(docs.hint("shuffle_hash"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    sz = ss.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = ss.alias("a")
    b = ss.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sz.select(F.col("source").alias("s1"), F.col("sz").alias("sz1"))
    zb = sz.select(F.col("source").alias("s2"), F.col("sz").alias("sz2"))
    return (
        inter.join(za.hint("shuffle_hash"), "s1")
        .join(zb.hint("shuffle_hash"), "s2")
        .select(
            "s1",
            "s2",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("sz1").cast("bigint").alias("sz1"),
            F.col("sz2").cast("bigint").alias("sz2"),
            (F.col("inter").cast("double") / F.least("sz1", "sz2").cast("double")).alias(
                "containment"
            ),
            (
                F.col("inter").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def _compression_oracle() -> str:
    """Single-node zlib mirror (zlib level 6 is deterministic for a given
    input across platforms/builds — same DEFLATE encoder in CPython)."""
    import zlib

    from .queries_neural import _oracle_sf_dir

    import duckdb

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{_oracle_sf_dir()}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    rows = []
    for did, text in docs:
        raw = text.encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        ratio = int((comp / len(raw)) * 1e6 + 0.5) / 1e6 if raw else 0.0
        rows.append(f"({did}::BIGINT,{len(raw)}::BIGINT,{comp}::BIGINT,{lit_double(ratio)})")
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(doc_id, n_bytes, n_compressed, ratio)"
    )


@register(
    "t_compression_ratio",
    oracle=lambda: _compression_oracle(),
    tags=("TXT-quality", "A14", "MM-decode"),
    doc="Per-document zlib compression ratio - the repetitiveness quality "
    "signal LLM curation rules use (highly compressible text is "
    "boilerplate/spam; incompressible is often binary junk): compressed "
    "size / raw UTF-8 size at level 6, computed in one Arrow-batched "
    "mapInPandas island (zlib is CPU work per doc, embarrassingly "
    "parallel; only (id, 2 ints, 1 double) leave the island). Oracle = "
    "single-node zlib mirror (DEFLATE level 6 is deterministic).",
)
def t_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        import zlib

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                comp = len(zlib.compress(raw, 6))
                ratio = int((comp / len(raw)) * 1e6 + 0.5) / 1e6 if raw else 0.0
                out.append((int(did), len(raw), comp, ratio))
            yield pd.DataFrame(out, columns=["doc_id", "n_bytes", "n_compressed", "ratio"])

    return docs.mapInPandas(
        gen, schema="doc_id long, n_bytes long, n_compressed long, ratio double"
    )


@register(
    "t_gopher_rules",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tok,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks, x -> x IN ({_STOP}))) AS BIGINT) AS n_stop
      FROM base
    )
    SELECT doc_id,
           (n_tok >= 10 AND n_tok <= 100000) AS r_wordcount,
           (3 * n_tok <= sum_len AND sum_len <= 10 * n_tok) AS r_meanlen,
           (5 * n_alpha > 4 * n_tok) AS r_alpha,
           (n_stop >= 2) AS r_stopwords,
           ((n_tok >= 10 AND n_tok <= 100000)
            AND (3 * n_tok <= sum_len AND sum_len <= 10 * n_tok)
            AND (5 * n_alpha > 4 * n_tok)
            AND (n_stop >= 2)) AS pass
    FROM m
    """,
    tags=("TXT-quality", "A14", "P8"),
    doc="Gopher-style quality-rule battery (Rae et al. 2021, adapted "
    "thresholds for the short synthetic corpus): word-count bounds, mean-"
    "word-length bounds, alphabetic-word fraction > 0.8, and stop-word "
    "presence >= 2 - each rule reported individually plus the conjunction, "
    "the curation gate a crawl pipeline applies before dedup. Every "
    "comparison is integer cross-multiplied (no float boundaries); one "
    "map-only pass of JVM HOFs, no shuffle at all.",
)
def t_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("bigint")
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("bigint")
    sum_len = F.expr(
        "aggregate(transform(split(text, ' '), x -> length(x)), 0L, (a, v) -> a + v)"
    )
    stop_arr = F.array(*[F.lit(w) for w in TX.STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("bigint")
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", n_tok.alias("n_tok"), n_alpha.alias("n_alpha"),
                sum_len.alias("sum_len"), n_stop.alias("n_stop"))
    )
    r_wc = (F.col("n_tok") >= 10) & (F.col("n_tok") <= 100000)
    r_ml = (3 * F.col("n_tok") <= F.col("sum_len")) & (F.col("sum_len") <= 10 * F.col("n_tok"))
    r_al = 5 * F.col("n_alpha") > 4 * F.col("n_tok")
    r_st = F.col("n_stop") >= 2
    return d.select(
        "doc_id",
        r_wc.alias("r_wordcount"),
        r_ml.alias("r_meanlen"),
        r_al.alias("r_alpha"),
        r_st.alias("r_stopwords"),
        (r_wc & r_ml & r_al & r_st).alias("pass"),
    )


_TTR_SEG = 50  # tokens per MSTTR segment


@register(
    "t_ttr_hapax",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, toks, len(toks) AS n_tokens,
             list_distinct(toks) AS types
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(types) AS BIGINT) AS n_types,
           {qround_sql('CAST(len(types) AS DOUBLE) / nullif(CAST(n_tokens AS DOUBLE), 0.0)', 9)} AS ttr,
           CAST(len(list_filter(types, ty -> len(list_filter(toks, x -> x = ty)) = 1)) AS BIGINT)
             AS n_hapax,
           {qround_sql('CAST(len(list_filter(types, ty -> len(list_filter(toks, x -> x = ty)) = 1)) AS DOUBLE) / nullif(CAST(len(types) AS DOUBLE), 0.0)', 9)} AS hapax_ratio,
           {qround_sql(f'''CASE WHEN n_tokens >= {_TTR_SEG} THEN
             list_sum(list_transform(range(0, CAST(n_tokens // {_TTR_SEG} AS INTEGER)),
               i -> CAST(len(list_distinct(toks[i * {_TTR_SEG} + 1 : i * {_TTR_SEG} + {_TTR_SEG}])) AS DOUBLE) / {float(_TTR_SEG)}))
             / CAST(n_tokens // {_TTR_SEG} AS DOUBLE) END''', 9)} AS msttr{_TTR_SEG}
    FROM m
    """,
    tags=("TXT-tokens", "TXT-quality"),
    doc="Lexical-diversity triple per document: raw type-token ratio, "
    "hapax-legomenon ratio (share of types occurring exactly once - the "
    "vocabulary-breadth signal length-normalized corpora filters use), "
    f"and MSTTR-{_TTR_SEG} (mean TTR over consecutive full {_TTR_SEG}-"
    "token segments - the classic fix for TTR's length bias). All three "
    "are integer counting + one fixed IEEE division; the per-segment mean "
    "folds left-to-right over a bounded segment list in both engines "
    "(docs are kilobytes, so the per-doc quadratic hapax scan is cheap "
    "and the whole query is map-only - no shuffle, no window).",
)
def t_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import qround

    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    m = d.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).alias("n_tokens"),
        F.array_distinct(toks).alias("types"),
    )
    hapax = F.size(
        F.filter(
            F.col("types"),
            lambda ty: F.size(F.filter(F.col("toks"), lambda x: x == ty)) == 1,
        )
    )
    nseg = F.expr(f"n_tokens div {_TTR_SEG}")
    seg_ttrs = F.transform(
        F.sequence(F.lit(0), nseg.cast("int") - 1),
        lambda i: F.size(
            F.array_distinct(F.slice(F.col("toks"), i * _TTR_SEG + 1, _TTR_SEG))
        ).cast("double")
        / F.lit(float(_TTR_SEG)),
    )
    msttr = F.when(
        F.col("n_tokens") >= _TTR_SEG,
        F.aggregate(seg_ttrs, F.lit(0.0), lambda a, x: a + x) / nseg.cast("double"),
    )
    return m.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.size("types").cast("bigint").alias("n_types"),
        qround(
            F.size("types").cast("double")
            / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
            9,
        ).alias("ttr"),
        hapax.cast("bigint").alias("n_hapax"),
        qround(
            hapax.cast("double") / F.nullif(F.size("types").cast("double"), F.lit(0.0)),
            9,
        ).alias("hapax_ratio"),
        qround(msttr, 9).alias(f"msttr{_TTR_SEG}"),
    )


_MTLD_NUM = 72  # factor-complete threshold: TTR < 0.72 as the integer
_MTLD_DEN = 100  # cross-multiplication 100*types < 72*tokens (no float 0.72)


def _mtld_py(toks: list[str]) -> tuple[int, int, float | None]:
    """The MTLD forward walk on content tokens — the single shared model
    both engines replay (the Spark HOF fold is this loop verbatim)."""
    seen: set[str] = set()
    tk = ty = fc = 0
    for x in toks:
        nty = ty + (0 if x in seen else 1)
        if _MTLD_DEN * nty < _MTLD_NUM * (tk + 1):
            seen.clear()
            tk = ty = 0
            fc += 1
        else:
            seen.add(x)
            tk += 1
            ty = nty
    partial = (1.0 - ty / tk) / 0.28 if tk > 0 else 0.0
    denom = float(fc) + partial
    mtld = len(toks) / denom if denom != 0.0 else None
    return len(toks), fc, mtld


def _lexical_density_oracle() -> str:
    """Python-mirror oracle (the t_compression_ratio pattern): replay the
    stopword filter + MTLD factor walk single-node and emit VALUES — the
    sequential fold has no tractable recursive-SQL twin, but the replay is
    on the identical token stream, so the whole HOF fold is on trial."""
    import duckdb as _dd

    from ..operators.textops import STOPWORDS
    from .queries_neural import _oracle_sf_dir

    con = _dd.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{_oracle_sf_dir()}/documents.parquet')"
        " ORDER BY doc_id"
    ).fetchall()
    con.close()
    rows = []
    for did, text in docs:
        toks = text.split(" ")
        content = [x for x in toks if x not in STOPWORDS]
        n_content, fc, mtld = _mtld_py(content)
        dens = len(content) / len(toks) if len(toks) else None
        rows.append(
            f"({did}::BIGINT,{len(toks)}::BIGINT,{n_content}::BIGINT,"
            + (f"{lit_double(qround_py(dens, 9))}," if dens is not None else "CAST(NULL AS DOUBLE),")
            + f"{fc}::BIGINT,"
            + (f"{lit_double(qround_py(mtld, 9))})" if mtld is not None else "CAST(NULL AS DOUBLE))")
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(doc_id, n_tokens, n_content, lex_density, mtld_factors, mtld_fwd)"
    )


@register(
    "t_lexical_density",
    oracle=lambda: _lexical_density_oracle(),
    tags=("TXT-tokens", "TXT-quality"),
    doc="Lexical density + forward MTLD (McCarthy & Jarvis 2010) per "
    "document over the STOPWORD-FREE token stream - the length-robust "
    "diversity pair t_ttr_hapax's MSTTR can't give (MSTTR wastes the "
    "tail segment; MTLD's sequential factor count uses every token): "
    "walk content tokens left to right keeping a running type set; when "
    "the running TTR drops below 0.72 a factor completes and the state "
    "resets; MTLD = n / (factors + partial), partial = (1 - ttr_end)/0.28. "
    f"The threshold test is the INTEGER cross-multiplication {_MTLD_DEN}"
    f"*types < {_MTLD_NUM}*tokens (no float 0.72 exists anywhere), so the "
    "fold state is exact and the only float math is the final fixed IEEE "
    "expression - the Spark aggregate() HOF and the oracle's Python "
    "replay run the identical walk. Map-only per doc (state is the "
    "factor-local type set, O(vocab-per-factor)); no shuffle, no window.",
)
def t_lexical_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import qround

    stop = ", ".join(f"'{w}'" for w in TX.STOPWORDS)
    content = f"filter(split(text, ' '), x -> x NOT IN ({stop}))"
    # aggregate() fold = _mtld_py verbatim: struct state (seen, tk, ty, fc);
    # the CASE arms mirror the factor-complete / extend branches exactly.
    nty = "s.ty + IF(array_contains(s.seen, x), 0, 1)"
    fold = f"""
    aggregate({content},
      named_struct('seen', cast(array() as array<string>), 'tk', 0, 'ty', 0, 'fc', 0),
      (s, x) -> CASE
        WHEN {_MTLD_DEN} * ({nty}) < {_MTLD_NUM} * (s.tk + 1)
        THEN named_struct('seen', cast(array() as array<string>),
                          'tk', 0, 'ty', 0, 'fc', s.fc + 1)
        ELSE named_struct('seen',
               IF(array_contains(s.seen, x), s.seen, array_append(s.seen, x)),
               'tk', s.tk + 1, 'ty', {nty}, 'fc', s.fc)
      END)
    """
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.size(F.expr(content)).cast("bigint").alias("n_content"),
        F.expr(fold).alias("st"),
    )
    partial = F.when(
        F.col("st.tk") > 0,
        (F.lit(1.0) - F.col("st.ty").cast("double") / F.col("st.tk").cast("double"))
        / F.lit(0.28),
    ).otherwise(F.lit(0.0))
    denom = F.col("st.fc").cast("double") + partial
    return d.select(
        "doc_id",
        "n_tokens",
        "n_content",
        qround(
            F.col("n_content").cast("double")
            / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
            9,
        ).alias("lex_density"),
        F.col("st.fc").cast("bigint").alias("mtld_factors"),
        qround(
            F.col("n_content").cast("double") / F.nullif(denom, F.lit(0.0)), 9
        ).alias("mtld_fwd"),
    )


_WIN_K = 8  # k-gram length (chars)
_WIN_W = 16  # winnowing window (grams)
_WIN_NEIGH = 8  # sorted-neighborhood span within a fingerprint bucket


def _winnow_fps_df(spark: SparkSession, d: DataFrame) -> DataFrame:
    """Per-doc winnowing fingerprint sets (doc_id, fps array<long>) as ONE
    Arrow island — r15 rewrite of the three-stage HOF chain (codes →
    per-position aggregate-fold grams → sliding array_min), which paid an
    interpreted lambda per gram position (O(len·k) fold steps per doc,
    ~4 s at sf0.1 for 1.5 M chars of ~0.1 s arithmetic; guide §4.2).

    Bit-equivalence: the island computes the same residues mod M through
    the rolling-prefix algebra (gram fold seeded at 7 ≡ 7·31^k + the plain
    window fold — modular arithmetic gives the identical [0, M) value the
    HOF's per-step pmod yields), and the same size/emptiness cases. The
    fps LIST ORDER differs (np.unique sorts; array_distinct keeps first
    occurrence) — immaterial by construction: both consumers are
    order-invariant (size(fps) and explode→groupBy), pytest parity-asserts
    the SETS match the pure-Python spec."""
    import numpy as np
    import pandas as pd  # noqa: F401

    k, w, mod = _WIN_K, _WIN_W, M

    def gen(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        inv31 = pow(31, mod - 2, mod)
        seed_term = (7 * pow(31, k, mod)) % mod
        p31 = np.array([1], dtype=np.int64)
        ip31 = np.array([1], dtype=np.int64)

        def grow(n: int) -> None:
            nonlocal p31, ip31
            if len(p31) > n:
                return
            old = len(p31)
            p31 = np.resize(p31, n + 1)
            ip31 = np.resize(ip31, n + 1)
            for i in range(old, n + 1):
                p31[i] = (p31[i - 1] * 31) % mod
                ip31[i] = (ip31[i - 1] * inv31) % mod

        for pdf in batches:
            ids, fps_out = [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                if txt is None or len(txt) < k:
                    ids.append(did)
                    fps_out.append(np.empty(0, dtype=np.int64))
                    continue
                L = len(txt)
                grow(L)
                c = np.frombuffer(
                    txt.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                sc = (c * ip31[1 : L + 1]) % mod
                s = np.cumsum(sc) % mod
                s_prev = (s - sc) % mod
                n = L - k + 1
                h = ((s[k - 1 :] - s_prev[:n]) % mod) * p31[k : L + 1] % mod
                grams = (h + seed_term) % mod
                if n < w:
                    fps = grams.min(keepdims=True)
                else:
                    fps = np.unique(sliding_window_view(grams, w).min(axis=1))
                ids.append(did)
                fps_out.append(fps)
            if ids:
                yield pd.DataFrame({"doc_id": ids, "fps": fps_out})

    return (
        d.select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(gen, schema="doc_id long, fps array<long>")
    )


@register(
    "t_winnowing_fp",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             CASE WHEN length(text) < {_WIN_K} THEN CAST([] AS BIGINT[])
             ELSE list_transform(range(1, length(text) - {_WIN_K - 2}),
               i -> list_reduce(list_concat([CAST(7 AS BIGINT)],
                      list_transform(range(0, {_WIN_K}),
                        j -> CAST(unicode(substr(text, CAST(i + j AS INTEGER), 1)) AS BIGINT))),
                    (a, c) -> (a * 31 + c) % {M}))
             END AS grams
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             CASE WHEN len(grams) = 0 THEN CAST([] AS BIGINT[])
                  WHEN len(grams) < {_WIN_W} THEN [list_aggregate(grams, 'min')]
                  ELSE list_distinct(list_transform(range(1, len(grams) - {_WIN_W - 2}),
                         j -> list_aggregate(grams[j : j + {_WIN_W - 1}], 'min')))
             END AS fps
      FROM g
    ),
    cnt AS (SELECT doc_id, len(fps) AS nfp FROM f),
    e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
    r AS (
      SELECT doc_id, fp,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
      FROM e
    ),
    cand AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS n_shared
      FROM r a JOIN r b ON a.fp = b.fp AND b.rk - a.rk BETWEEN 1 AND {_WIN_NEIGH}
      GROUP BY 1, 2
    )
    SELECT ida, idb, CAST(n_shared AS BIGINT) AS n_shared,
           {qround_sql('CAST(n_shared AS DOUBLE) / CAST(ca.nfp + cb.nfp - n_shared AS DOUBLE)', 9)} AS jaccard_est
    FROM cand JOIN cnt ca ON ida = ca.doc_id JOIN cnt cb ON idb = cb.doc_id
    WHERE n_shared >= 2
    """,
    tags=("TXT-fingerprint", "DEDUP-minhash", "J5"),
    doc="Winnowing document fingerprints (Schleimer-Wilkerson-Aiken 2003, "
    "the MOSS algorithm): per doc, polynomial hashes of all 8-char grams, "
    "then the minimum hash of every 16-gram window - winnowing guarantees "
    "any shared substring of length >= k + w - 1 produces a shared "
    "fingerprint, the detection guarantee MinHash lacks. Near-dup pairs "
    "form ONLY inside equal-fingerprint buckets with the sorted-"
    "neighborhood rank cap (the LSH doctrine - never all-pairs), scored "
    "by shared-fingerprint count and the containment-style Jaccard "
    "estimate over distinct fingerprint sets. All hashing is exact "
    "integer arithmetic in both engines (the poly_hash fold); per-doc "
    "gram lists are bounded by doc length, so the HOF pass is map-only "
    "and the only shuffles are the fingerprint bucket join and the two "
    "count joins.",
)
def t_winnowing_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import qround

    d = _docs(spark, sf_dir)
    # localCheckpoint: the fingerprint frame is consumed by both the bucket
    # explode and the per-doc counts — one island execution, not two. One
    # row per doc with a ~dozen-entry int list — kilobytes.
    f_df = _winnow_fps_df(spark, d).localCheckpoint(eager=True)
    cnt = f_df.select("doc_id", F.size("fps").alias("nfp"))
    e = f_df.select("doc_id", F.explode("fps").alias("fp"))
    # r16 (guide §2.3/§2.4): the sorted-neighborhood pairs used to form via
    # a rank window + bucket SELF-JOIN on fp (rank gap 1.._WIN_NEIGH) — the
    # exploded fingerprint frame crossed a second exchange + two sort-merge
    # sides just to look _WIN_NEIGH rows ahead inside its own partition.
    # lead(doc_id, j) over the same (fp, doc_id) window IS that lookahead:
    # each row emits its next 1.._WIN_NEIGH bucket neighbors in ONE window
    # pass (lead is partition-bounded, so nulls replace cross-bucket reach
    # exactly where the join predicate a.fp = b.fp cut). Pair multiset is
    # identical by construction; the self-join and its exchange are gone.
    win = W.partitionBy("fp").orderBy("doc_id")
    nbrs = F.array(*[F.lead("doc_id", j).over(win) for j in range(1, _WIN_NEIGH + 1)])
    cand = (
        e.withColumn("_nb", nbrs)  # window exprs can't live under explode
        .select(F.col("doc_id").alias("ida"), F.explode("_nb").alias("idb"))
        .where(F.col("idb").isNotNull())
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    ca = cnt.select(F.col("doc_id").alias("ida"), F.col("nfp").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("idb"), F.col("nfp").alias("nb"))
    return (
        cand.join(ca, "ida")
        .join(cb, "idb")
        .select(
            "ida",
            "idb",
            "n_shared",
            qround(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double"),
                9,
            ).alias("jaccard_est"),
        )
    )


_CDC_MASK = 64  # boundary when gram hash % 64 == 0 -> ~64-char expected chunks


@register(
    "d_cdc_chunks",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
               i -> CAST(unicode(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)) AS codes
      FROM documents
    ),
    g AS (
      SELECT doc_id, codes,
             CASE WHEN len(codes) < {_WIN_K} THEN CAST([] AS BIGINT[])
             ELSE list_transform(range(1, len(codes) - {_WIN_K - 2}),
               i -> list_reduce(list_concat([CAST(7 AS BIGINT)], codes[i : i + {_WIN_K - 1}]),
                    (a, ch) -> (a * 31 + ch) % {M}))
             END AS grams
      FROM c
    ),
    st AS (
      SELECT doc_id, codes,
             list_sort(list_distinct(list_concat([CAST(1 AS BIGINT)],
               list_filter(list_transform(range(1, len(grams) + 1),
                 i -> CASE WHEN grams[i] % {_CDC_MASK} = 0
                            AND i + {_WIN_K} <= len(codes)
                           THEN i + {_WIN_K} ELSE CAST(-1 AS BIGINT) END),
                 p -> p > 0)))) AS starts
      FROM g
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(starts) + 1),
               t -> list_reduce(list_concat([CAST(7 AS BIGINT)],
                      codes[starts[t] : CASE WHEN t < len(starts)
                                             THEN starts[t + 1] - 1
                                             ELSE len(codes) END]),
                    (a, ch2) -> (a * 31 + ch2) % {M}))) AS chunk_hash,
             unnest(list_transform(range(1, len(starts) + 1),
               t -> CASE WHEN t < len(starts) THEN starts[t + 1] - starts[t]
                         ELSE len(codes) - starts[t] + 1 END)) AS chunk_len
      FROM st
    )
    SELECT chunk_hash, CAST(chunk_len AS BIGINT) AS chunk_len,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST((count(*) - 1) * chunk_len AS BIGINT) AS dup_bytes
    FROM ch
    WHERE chunk_len > 0
    GROUP BY chunk_hash, chunk_len
    HAVING count(*) >= 2
    """,
    tags=("DEDUP-exact", "TXT-fingerprint"),
    doc="Content-defined chunking dedup (the rsync/LBFS/FastCDC family, "
    "Muthitacharoen et al. 2001): cut every document where the rolling "
    f"8-char gram hash hits 0 mod {_CDC_MASK} (boundaries move WITH the "
    "content, so an insertion resynchronizes after one chunk - fixed-size "
    "blocks would misalign every later block), hash each chunk, and "
    "report corpus-wide duplicated chunks with occurrence/doc counts and "
    "the dedup-savings estimate (n-1)*len. This is sub-document "
    "granularity the doc-level dedup family can't see (shared "
    "boilerplate inside otherwise-distinct docs). Exact integer hashing "
    "end to end; per-doc HOF work is O(len * k) map-only; the only "
    "shuffle is the final combinable group-by chunk hash.",
)
def d_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # empty-doc guard: Spark's split('', '') yields [''] (codes=[0], a
    # phantom length-1 chunk) while the oracle's range(1, 0+1) yields no
    # codes — guard to array() so both engines agree a zero-length doc has
    # no chunks (r12 ADVICE).
    codes_expr = (
        "CASE WHEN length(text) = 0 THEN array() "
        "ELSE transform(split(text, ''), ch -> cast(ascii(ch) as bigint)) END"
    )
    grams_expr = (
        f"CASE WHEN size(codes) < {_WIN_K} THEN array() "
        f"ELSE transform(sequence(1, size(codes) - {_WIN_K - 1}), "
        f"i -> aggregate(slice(codes, i, {_WIN_K}), "
        f"7L, (a, c) -> pmod(a * 31 + c, {M}L))) END"
    )
    # size(grams) = 0 guard: Spark's sequence(1, 0) is the DESCENDING [1, 0]
    # (not empty like DuckDB's range), so an unguarded transform would
    # element_at an empty array — an ANSI crash for any doc shorter than
    # the gram width (latent until the empty-doc guard above exposed it).
    starts_expr = (
        "CASE WHEN size(grams) = 0 THEN array(1L) "
        "ELSE array_sort(array_distinct(concat(array(1L), "
        "filter(transform(sequence(1, size(grams)), "
        f"i -> IF(element_at(grams, i) % {_CDC_MASK} = 0 "
        f"AND i + {_WIN_K} <= size(codes), cast(i + {_WIN_K} as bigint), -1L)), "
        "p -> p > 0)))) END"
    )
    hash_expr = (
        "transform(sequence(1, size(starts)), "
        "t -> aggregate(slice(codes, cast(element_at(starts, t) as int), "
        "cast(IF(t < size(starts), element_at(starts, t + 1) - element_at(starts, t), "
        "size(codes) - element_at(starts, t) + 1) as int)), "
        f"7L, (a, c) -> pmod(a * 31 + c, {M}L)))"
    )
    len_expr = (
        "transform(sequence(1, size(starts)), "
        "t -> IF(t < size(starts), element_at(starts, t + 1) - element_at(starts, t), "
        "size(codes) - element_at(starts, t) + 1))"
    )
    # the localCheckpoint before the explode is load-bearing: pulling the
    # generator over this projection chain re-expands the staged arrays
    # inside the per-chunk lambdas (the t_winnowing_fp pathology — measured
    # minutes vs seconds at sf0.001). The frame is one row per doc with
    # ~len/64 (hash, len) pairs — far smaller than the text itself.
    staged = (
        d.repartition(d.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", F.expr(codes_expr).alias("codes"))
        .select("doc_id", "codes", F.expr(grams_expr).alias("grams"))
        .select("doc_id", "codes", F.expr(starts_expr).alias("starts"))
        .select(
            "doc_id",
            F.arrays_zip(F.expr(hash_expr), F.expr(len_expr)).alias("chs"),
        )
        .localCheckpoint(eager=True)
    )
    ch = staged.select(
        "doc_id", F.explode("chs").alias("c")
    ).select(
        "doc_id",
        F.col("c.0").alias("chunk_hash"),
        F.col("c.1").cast("bigint").alias("chunk_len"),
    ).filter(F.col("chunk_len") > 0)
    return (
        ch.groupBy("chunk_hash", "chunk_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .select(
            "chunk_hash",
            "chunk_len",
            "n_occurrences",
            "n_docs",
            ((F.col("n_occurrences") - 1) * F.col("chunk_len"))
            .cast("bigint")
            .alias("dup_bytes"),
        )
    )
