"""LLM training-data pipeline query specs over `documents`: TF-IDF term
ranking, token-budget sequence packing, stratified sampling, and sketch-based
approximate distinct counting.

Each pairs the Spark plan in operators/corpus.py with an exact DuckDB
oracle; the packing oracle replays the greedy sequential fold with a
recursive CTE, so even the inherently order-dependent operator is
hash-verified, not rows-only."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import lit_double
from ..functions.rng import rng_draw_sql
from ..operators import corpus as CO
from ..operators.dedup import DUP_SPAN_HOT_CAP
from ..sources.readers import load_table
from .registry import register
from .shared import session_view, view_persist

_TOKS = "string_split(text, ' ')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "t_tfidf_top_terms",
    oracle=f"""
    WITH tfc AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS dfreq FROM tfc GROUP BY term
    ), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.term, t.tf,
             floor(CAST(t.tf AS DOUBLE)
                   * ln(CAST(nd.n_docs AS DOUBLE) / CAST(d.dfreq AS DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0 AS score
      FROM tfc t JOIN dfreq d USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, CAST(rnk AS INTEGER) AS rnk, score
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term ASC) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
    tags=("TXT-tfidf",),
    doc="Top-3 TF-IDF terms per document: one explode shuffle with map-side "
    "combine, broadcast N, WindowGroupLimit top-k; score quantized before "
    "ranking so both engines rank identical values.",
)
def t_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.tfidf_top_terms(_docs(spark, sf_dir), k=3)


_PACK_BUDGET = 256
_PACK_SHARDS = 8
_PACK_DRAW = rng_draw_sql("doc_id", salt=CO.PACK_SALT)


@register(
    "d_pack_sequences",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS INTEGER) AS n_tok,
             CAST(({_PACK_DRAW}) % {_PACK_SHARDS} AS INTEGER) AS shard,
             row_number() OVER (
               PARTITION BY CAST(({_PACK_DRAW}) % {_PACK_SHARDS} AS INTEGER)
               ORDER BY doc_id) AS rn
      FROM documents
    ), pack AS (
      SELECT shard, rn, doc_id, n_tok, 0 AS bin_id, n_tok AS fill
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.shard, s.rn, s.doc_id, s.n_tok,
             CASE WHEN p.fill + s.n_tok <= {_PACK_BUDGET}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + s.n_tok <= {_PACK_BUDGET}
                  THEN p.fill + s.n_tok ELSE s.n_tok END
      FROM seq s JOIN pack p ON s.shard = p.shard AND s.rn = p.rn + 1
    )
    SELECT doc_id, shard, n_tok, CAST(bin_id AS INTEGER) AS bin_id FROM pack
    """,
    tags=("TXT-packing",),
    doc="Token-budget sequence packing (greedy, 256-token bins, 8 shards): "
    "the pretraining packing pass. Sequential fold per shard via "
    "applyInPandas over skinny (doc_id, n_tok) rows; the oracle replays the "
    "fold with a recursive CTE, so bin assignment is hash-verified.",
)
def d_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.pack_documents(
        _docs(spark, sf_dir), budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )


def _ngram_ctes(n: int) -> str:
    """DuckDB CTE chain producing distinct hashed word-n-gram ids per doc
    from a `pool(doc_id, text)` CTE — mirror of operators/dedup.ngram_hashes
    (broadcast vocab dim → lead-window n-gram integer fold)."""
    from ..operators.dedup import SHINGLE_MULT
    from ..operators.textops import poly_hash_duck_expr
    from ..functions.rng import M

    leads = ", ".join(f"lead(h, {i}) OVER w AS h{i}" for i in range(1, n))
    acc = "h0"
    for i in range(1, n):
        acc = f"(({acc}) * {SHINGLE_MULT} + h{i}) % {M}"
    return f"""
    base AS (SELECT doc_id, {_TOKS} AS toks FROM pool),
    tok_long AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok FROM base
    ),
    dimh AS (
      SELECT tok, {poly_hash_duck_expr('tok')} AS h FROM (SELECT DISTINCT tok FROM tok_long)
    ),
    tl AS (SELECT doc_id, pos, h FROM tok_long JOIN dimh USING (tok)),
    grams AS (
      SELECT doc_id, h AS h0, {leads}
      FROM tl WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    ng AS (
      SELECT DISTINCT doc_id, {acc} AS shingle FROM grams WHERE h{n - 1} IS NOT NULL
    )"""


_DECON_DRAW = rng_draw_sql("doc_id", salt=CO.DECON_SALT)
_DECON_N = 4


@register(
    "d_decontaminate",
    oracle=f"""
    WITH pool AS (SELECT doc_id, text FROM documents),
    {_ngram_ctes(_DECON_N)},
    bench_ids AS (
      SELECT doc_id FROM documents WHERE ({_DECON_DRAW}) % {CO.DECON_MOD} = 0
    ),
    bench_ng AS (
      SELECT DISTINCT shingle FROM ng WHERE doc_id IN (SELECT doc_id FROM bench_ids)
    ),
    hits AS (
      SELECT doc_id, count(DISTINCT shingle) AS n_hits
      FROM ng
      WHERE doc_id NOT IN (SELECT doc_id FROM bench_ids)
        AND shingle IN (SELECT shingle FROM bench_ng)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           (coalesce(h.n_hits, 0) > 0) AS contaminated
    FROM documents d
    LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id NOT IN (SELECT doc_id FROM bench_ids)
    """,
    tags=("DEDUP-ngram", "TXT-decontaminate", "J3"),
    doc="Benchmark decontamination: training docs sharing any word-4-gram "
    "with the held-out benchmark split (deterministic 1-in-20 RNG draw) are "
    "flagged with their overlap count. Benchmark n-gram set is broadcast "
    "(tiny vs the corpus at any scale); training side pays one explode + "
    "per-doc lead window + broadcast join + one groupBy(doc) shuffle.",
)
def d_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.decontaminate(_docs(spark, sf_dir), n=_DECON_N)


_HH_K = 8
_HH_SHARDS = 4


def _heavy_hitters_oracle() -> str:
    """Mirror oracle for the Misra-Gries sketch: an independent pure-Python
    replica (duckdb read + the same shard split + the same MG routine + the
    same merge-reduce) produces the candidate estimates; DuckDB then
    adjudicates everything checkable from first principles — exact counts,
    the est ≤ true ≤ est + n/(k+1) bound, and candidate-set completeness."""
    import os

    import duckdb as _dd

    from ..functions.rng import rng_draw_np
    from ..operators.corpus import misra_gries

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = _dd.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        " ORDER BY doc_id"
    ).fetchall()
    con.close()
    shards: dict[int, list[str]] = {}
    for doc_id, text in rows:
        s = int(rng_draw_np([doc_id], salt=CO.HH_SALT) % _HH_SHARDS)
        shards.setdefault(s, []).extend(text.split(" "))
    merged: dict[str, int] = {}
    for s in sorted(shards):
        for tok, est in misra_gries(shards[s], _HH_K).items():
            merged[tok] = merged.get(tok, 0) + est
    weights = sorted(merged.values(), reverse=True)
    cut = weights[_HH_K] if len(weights) > _HH_K else 0
    cand = {t: e - cut for t, e in merged.items() if e - cut > 0}
    vals = ", ".join(f"('{t}', {e})" for t, e in sorted(cand.items()))
    return f"""
    WITH cand(tok, est) AS (VALUES {vals}),
    ex AS (
      SELECT tok, count(*) AS n_exact
      FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
      GROUP BY tok
    ),
    tot AS (SELECT count(*) AS n_tot FROM (SELECT unnest({_TOKS}) FROM documents)),
    miss AS (
      SELECT count(*) AS n_missing
      FROM ex CROSS JOIN tot
      WHERE n_exact > n_tot // {_HH_K + 1}
        AND tok NOT IN (SELECT tok FROM cand)
    )
    SELECT c.tok, CAST(c.est AS BIGINT) AS est, CAST(e.n_exact AS BIGINT) AS n_exact,
           (c.est <= e.n_exact AND e.n_exact - c.est <= t.n_tot // {_HH_K + 1}) AS mg_ok,
           (m.n_missing = 0) AS complete
    FROM cand c JOIN ex e USING (tok) CROSS JOIN tot t CROSS JOIN miss m
    """


@register(
    "t_heavy_hitters",
    oracle=_heavy_hitters_oracle,
    tags=("TXT-tokens", "A-sketch"),
    doc="Frequent tokens via mergeable Misra-Gries summaries: k-counter "
    "one-pass sketch per shard (O(k) state in a streaming mapInPandas "
    "fold), merged with the standard sum-and-subtract reduce. The oracle "
    "is an independent pure-Python replica of the sketch plus DuckDB "
    "adjudication of the est <= true <= est + n/(k+1) bound and "
    "candidate-set completeness against its own exact counts.",
)
def t_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.heavy_hitters(_docs(spark, sf_dir), k=_HH_K, n_shards=_HH_SHARDS)


_SAMPLE_QUOTA = 30
_SAMPLE_DRAW = rng_draw_sql("doc_id", salt=CO.SAMPLE_SALT)


@register(
    "s_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, draw FROM (
      SELECT doc_id, lang, ({_SAMPLE_DRAW}) AS draw,
             row_number() OVER (PARTITION BY lang
                                ORDER BY ({_SAMPLE_DRAW}), doc_id) AS rn
      FROM documents
    ) WHERE rn <= {_SAMPLE_QUOTA}
    """,
    tags=("TXT-sampling", "U4"),
    doc="Deterministic stratified sampling: exactly min(quota, stratum size) "
    "docs per language, ranked by the cross-engine RNG draw — exact quotas "
    "(unlike sampleBy's binomial), reproducible in both engines.",
)
def s_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.stratified_sample(
        _docs(spark, sf_dir), strata_col="lang", quota=_SAMPLE_QUOTA
    )


_HLL_RSD = 0.05
_HLL_TOL = 0.2  # 4× rsd — deterministic for fixed data+implementation


def _hll_oracle() -> str:
    """Invariant oracle for the HLL sketch (same adjudication pattern as
    a1_price_quantiles_approx): the engine contributes ONLY its sketch
    estimates (HLL++ internals are not reproducible outside Spark); DuckDB
    independently computes the exact per-language distinct counts from the
    same parquet and adjudicates the relative-error bound itself."""
    import os

    from pyspark.sql import functions as SF

    from ..session import get_spark
    from ..sources.readers import load_table as _lt

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    docs = _lt(get_spark(), sf_dir, "documents")
    ests = (
        docs.select("lang", SF.explode(SF.split("text", " ")).alias("tok"))
        .groupBy("lang")
        .agg(SF.approx_count_distinct("tok", _HLL_RSD).alias("est"))
        .collect()
    )
    vals = ", ".join(f"('{r['lang']}', {lit_double(float(r['est']))})" for r in ests)
    return f"""
    WITH est(lang, est) AS (VALUES {vals}),
    ex AS (
      SELECT lang, COUNT(DISTINCT tok) AS n_exact
      FROM (SELECT lang, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY lang
    )
    SELECT ex.lang, CAST(ex.n_exact AS BIGINT) AS n_exact,
           (abs(est.est / CAST(ex.n_exact AS DOUBLE) - 1.0) <= {_HLL_TOL}) AS hll_ok
    FROM ex JOIN est USING (lang)
    """


@register(
    "t_distinct_tokens_approx",
    oracle=_hll_oracle,
    tags=("TXT-tokens", "A-sketch"),
    doc="Vocabulary size per language, exact + HLL++ sketch: the exact "
    "count_distinct is the full-shuffle baseline the driver hash-verifies; "
    "the sketch is the 100 TB shape (mergeable partials, one pass, no "
    "distinct shuffle) and is adjudicated by an invariant — its relative "
    "error vs DuckDB's own exact count must stay within 4x the configured "
    "rsd (deterministic for fixed data + implementation).",
)
def t_distinct_tokens_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    toks = _docs(spark, sf_dir).select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    per = toks.groupBy("lang").agg(
        F.count_distinct("tok").alias("n_exact"),
        F.approx_count_distinct("tok", _HLL_RSD).alias("est"),
    )
    return per.select(
        "lang",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(
                F.col("est").cast("double") / F.col("n_exact").cast("double")
                - F.lit(1.0)
            )
            <= F.lit(_HLL_TOL)
        ).alias("hll_ok"),
    )


def _quality_raw_sql() -> str:
    """Raw (unrounded) quality formula, the exact double-op mirror of
    operators/textops.quality_score — both engines evaluate the identical
    expression tree, so a threshold comparison agrees bit-for-bit (same
    precedent as pipeline_corpus_filter's 0.5 gate)."""
    from ..operators.textops import STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    nt = f"CAST(len({_TOKS}) AS DOUBLE)"
    return (
        f"(0.4 * (CAST(len(list_filter({_TOKS}, x -> x IN ({stop}))) AS DOUBLE) / {nt})"
        f" + 0.3 * least({nt} / 100.0, 1.0)"
        f" + 0.3 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / {nt}))"
    )


_PREP_CUT = 0.3


def _pipeline_pack_oracle() -> str:
    return f"""
    WITH RECURSIVE fq AS (
      SELECT doc_id, text FROM documents WHERE {_quality_raw_sql()} >= {_PREP_CUT}
    ),
    kept AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rk
        FROM fq
      ) WHERE rk = 1
    ),
    seq AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS INTEGER) AS n_tok,
             CAST(({_PACK_DRAW}) % {_PACK_SHARDS} AS INTEGER) AS shard,
             row_number() OVER (
               PARTITION BY CAST(({_PACK_DRAW}) % {_PACK_SHARDS} AS INTEGER)
               ORDER BY doc_id) AS rn
      FROM kept
    ), pack AS (
      SELECT shard, rn, doc_id, n_tok, 0 AS bin_id, n_tok AS fill
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.shard, s.rn, s.doc_id, s.n_tok,
             CASE WHEN p.fill + s.n_tok <= {_PACK_BUDGET}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + s.n_tok <= {_PACK_BUDGET}
                  THEN p.fill + s.n_tok ELSE s.n_tok END
      FROM seq s JOIN pack p ON s.shard = p.shard AND s.rn = p.rn + 1
    )
    SELECT doc_id, shard, n_tok, CAST(bin_id AS INTEGER) AS bin_id FROM pack
    """


@register(
    "pipeline_corpus_pack",
    oracle=_pipeline_pack_oracle,
    tags=("TXT-quality", "DEDUP-exact", "TXT-packing", "U5", "A13"),
    doc="The corpus-prep pipeline end to end as ONE plan: quality gate "
    "(q >= 0.3) -> exact dedup (keep-lowest-id per text) -> token-budget "
    "sequence packing of the survivors — filter and dedup prune before any "
    "fold state exists, the pack stage streams. The oracle chains the same "
    "three stages (filter CTE, window dedup, recursive packing fold).",
)
def pipeline_corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import dedup as DD
    from ..operators import textops as TX

    d = _docs(spark, sf_dir)
    q = d.filter(TX.quality_score() >= F.lit(_PREP_CUT))
    kept = DD.exact_dedup(q).select("doc_id", "text")
    return CO.pack_documents(kept, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)


_MIX_BUDGET = 200
_MIX_DRAW = rng_draw_sql("doc_id", salt=CO.MIX_SALT)


@register(
    "s_domain_mix",
    oracle=f"""
    WITH stats AS (
      SELECT source, count(*) AS n_avail,
             CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(q) AS BIGINT) AS S FROM stats),
    quotas AS (
      SELECT source,
             CAST(greatest(CAST(1 AS BIGINT), ({_MIX_BUDGET} * q) // S) AS BIGINT) AS quota
      FROM stats CROSS JOIN tot
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY ({_MIX_DRAW}), doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, source, quota
    FROM ranked JOIN quotas USING (source)
    WHERE rn <= quota
    """,
    tags=("TXT-sampling", "U4"),
    doc="Sqrt-proportional domain mixing: per-domain quotas follow "
    "sqrt(domain size) over a fixed budget (sublinear rebalancing that "
    "upweights small domains). Quota arithmetic is integer-exact (micro-"
    "unit sqrt weights, BIGINT sums and division); selection is the "
    "cross-engine RNG ranking per domain, one WindowGroupLimit.",
)
def s_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.domain_mix(_docs(spark, sf_dir), budget=_MIX_BUDGET)


@register(
    "t_repetition_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    b AS (
      SELECT doc_id, toks,
             list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bi
      FROM t
    )
    SELECT doc_id,
           CAST(len(bi) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(bi)) AS BIGINT) AS n_distinct_bigrams,
           floor((1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / CAST(len(bi) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS rep_ratio,
           floor((CAST(list_max(list_transform(list_distinct(toks),
                       tk -> len(list_filter(toks, x -> x = tk)))) AS DOUBLE)
                  / CAST(len(toks) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS top_tok_share
    FROM b
    """,
    tags=("TXT-quality",),
    doc="Intra-document repetition: duplicated-bigram ratio and most-"
    "frequent-token share — scrape-artifact quality signals, pure JVM array "
    "HOFs (bounded by document length, embarrassingly parallel).",
)
def t_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


@register(
    "sink_partition_prune",
    oracle=f"""
    SELECT source, count(*) AS n_docs,
           CAST(sum(CAST(len({_TOKS}) AS BIGINT)) AS BIGINT) AS total_tokens
    FROM documents WHERE lang = 'en'
    GROUP BY source
    """,
    tags=("S6", "P1"),
    doc="Partition-pruned scan: documents written hive-partitioned by lang, "
    "read back with lang='en' — the filter becomes directory pruning "
    "(PartitionFilters in the scan; other partitions' files are never "
    "opened). The oracle checks the values; tests/test_plans.py asserts "
    "the pruning is in the plan.",
)
def sink_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.bucketing import write_partitioned

    docs = _docs(spark, sf_dir)
    write_partitioned(docs, "p_documents", "lang")
    back = spark.table("p_documents").filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("bigint")).alias("total_tokens"),
    )


def _pipeline_full_oracle() -> str:
    """Chained-CTE replay of the full prep pipeline: quality gate ->
    benchmark decontamination -> exact dedup -> token-budget packing."""
    return f"""
    WITH RECURSIVE fq AS (
      SELECT doc_id, text FROM documents WHERE {_quality_raw_sql()} >= 0.3
    ),
    pool AS (SELECT doc_id, text FROM fq),
    {_ngram_ctes(_DECON_N)},
    bench_ids AS (
      SELECT doc_id FROM fq WHERE ({_DECON_DRAW}) % {CO.DECON_MOD} = 0
    ),
    bench_ng AS (
      SELECT DISTINCT shingle FROM ng WHERE doc_id IN (SELECT doc_id FROM bench_ids)
    ),
    contam AS (
      SELECT DISTINCT doc_id FROM ng WHERE shingle IN (SELECT shingle FROM bench_ng)
    ),
    clean AS (
      SELECT f.doc_id, f.text FROM fq f
      WHERE f.doc_id NOT IN (SELECT doc_id FROM bench_ids)
        AND f.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    kept AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rk
        FROM clean
      ) WHERE rk = 1
    ),
    seq AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS INTEGER) AS n_tok,
             CAST(({_PACK_DRAW}) % {_PACK_SHARDS} AS INTEGER) AS shard,
             row_number() OVER (
               PARTITION BY CAST(({_PACK_DRAW}) % {_PACK_SHARDS} AS INTEGER)
               ORDER BY doc_id) AS rn
      FROM kept
    ), pack AS (
      SELECT shard, rn, doc_id, n_tok, 0 AS bin_id, n_tok AS fill
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.shard, s.rn, s.doc_id, s.n_tok,
             CASE WHEN p.fill + s.n_tok <= {_PACK_BUDGET}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + s.n_tok <= {_PACK_BUDGET}
                  THEN p.fill + s.n_tok ELSE s.n_tok END
      FROM seq s JOIN pack p ON s.shard = p.shard AND s.rn = p.rn + 1
    )
    SELECT doc_id, shard, n_tok, CAST(bin_id AS INTEGER) AS bin_id FROM pack
    """


@register(
    "pipeline_train_corpus",
    oracle=_pipeline_full_oracle,
    tags=("TXT-quality", "TXT-decontaminate", "DEDUP-exact", "TXT-packing", "U5", "A13"),
    doc="The COMPLETE pretraining corpus-prep pipeline as one plan: quality "
    "gate (q >= 0.3) -> benchmark decontamination (drop the held-out split "
    "AND every doc sharing a 4-gram with it) -> exact dedup (keep-lowest-"
    "id) -> token-budget sequence packing. Filters and the broadcast "
    "decontamination join prune before any fold state exists; the pack "
    "stage streams. Oracle chains all four stages ending in the recursive "
    "packing fold.",
)
def pipeline_train_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import dedup as DD
    from ..operators import textops as TX

    d = _docs(spark, sf_dir)
    q = d.filter(TX.quality_score() >= F.lit(0.3)).select("doc_id", "text")
    dec = CO.decontaminate(q, n=_DECON_N)
    clean_ids = dec.filter(~F.col("contaminated")).select("doc_id")
    clean = q.join(clean_ids, "doc_id", "left_semi")
    kept = DD.exact_dedup(clean).select("doc_id", "text")
    return CO.pack_documents(kept, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)


_DUP_K = 32


@register(
    "d_dup_spans",
    oracle=f"""
    WITH g0 AS (
      SELECT doc_id, i AS pos, substr(text, i, {_DUP_K}) AS s
      FROM documents, LATERAL (SELECT unnest(range(1, length(text) - {_DUP_K} + 2)) AS i)
    ),
    g AS (
      -- mirror of the engine's hot-k-gram cap (engine counts per HASH, the
      -- oracle per substring — identical absent a 61-bit hash collision)
      SELECT doc_id, pos, s FROM g0
      QUALIFY count(*) OVER (PARTITION BY s) <= {DUP_SPAN_HOT_CAP}
    ),
    cand AS (
      SELECT a.doc_id AS d1, a.pos AS p1, b.doc_id AS d2, b.pos AS p2
      FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT d1, d2, p2 - p1 AS delta, p1,
             p1 - row_number() OVER (PARTITION BY d1, d2, p2 - p1 ORDER BY p1) AS isl_id
      FROM cand
    ),
    spans AS (
      SELECT d1, d2, delta, isl_id, count(*) AS n_matches
      FROM isl GROUP BY 1, 2, 3, 4
    )
    SELECT d1, d2,
           CAST(sum(n_matches) AS BIGINT) AS n_kgrams,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(n_matches) + {_DUP_K} - 1 AS BIGINT) AS max_span_chars
    FROM spans GROUP BY 1, 2
    """,
    tags=("DEDUP-exactsubstr", "DEDUP-ngram", "J5", "W5"),
    doc="ExactSubstr-style cross-doc duplicate spans (the char-level dedup "
    "of Lee et al.'s suffix-array method as Spark window algebra): rolling "
    "k-gram hashes in O(len)/doc (prefix-sum + lead over a powers dim — no "
    "per-position substring), one hash equi-join for candidates, substring "
    "equality kills collisions, and gaps-and-islands collapses consecutive "
    "matches at one delta into maximal shared spans. The oracle matches "
    "SUBSTRINGS directly — it never sees the rolling hash, so any hash "
    "algebra defect shows up as a driver mismatch.",
)
def d_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as DD
    from .shared import span_islands_df

    # r15: detection and removal share one session-lifetime island frame
    return DD.duplicate_spans(
        _docs(spark, sf_dir), k=_DUP_K, islands=span_islands_df(spark, sf_dir)
    )


def _countmin_oracle() -> str:
    from ..functions.rng import M as _M
    from ..operators.corpus import CMS_D, CMS_W
    from ..operators.textops import poly_hash_duck_expr

    th = poly_hash_duck_expr("tok")
    bucket = f"(((v.th * (2 * i + 3) + (5 * i + 1)) % {_M}) % {CMS_W})"
    return f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    vh AS (SELECT tok, {th} AS th FROM (SELECT DISTINCT tok FROM toks)),
    cells AS (
      SELECT i, {bucket} AS bucket
      FROM toks t JOIN vh v USING (tok),
           (SELECT unnest(range(0, {CMS_D})) AS i)
    ),
    cms AS (SELECT i, bucket, count(*) AS c FROM cells GROUP BY 1, 2),
    exact AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY 1),
    probes AS (SELECT tok, n_exact FROM exact ORDER BY n_exact DESC, tok LIMIT 20),
    pb AS (
      SELECT p.tok, p.n_exact, i, {bucket} AS bucket
      FROM probes p JOIN vh v USING (tok),
           (SELECT unnest(range(0, {CMS_D})) AS i)
    )
    SELECT pb.tok, CAST(pb.n_exact AS BIGINT) AS n_exact,
           CAST(min(c.c) AS BIGINT) AS n_est
    FROM pb JOIN cms c ON c.i = pb.i AND c.bucket = pb.bucket
    GROUP BY 1, 2
    """


@register(
    "t_countmin_freq",
    oracle=_countmin_oracle,
    tags=("TXT-tokens", "A-sketch"),
    doc="Count-Min Sketch point frequencies: d x w bounded counters replace "
    "the unbounded per-token groupBy (the mergeable sketch family's "
    "point-frequency member next to HLL distincts, GK quantiles, and "
    "Misra-Gries heavy hitters); estimates only over-count, min over d "
    "affine hash rows. Build = ONE map-side-combinable groupBy over (row, "
    "bucket) - d x w cells regardless of corpus size. Fully deterministic, "
    "so the sketch contents themselves are replayed and hash-verified by "
    "the SQL oracle (probing the 20 most frequent tokens).",
)
def t_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.count_min_estimates(_docs(spark, sf_dir), probe_k=20)


# URL synthesis for the canonicalization-dedup contract: deterministic messy
# absolute URLs derived from (doc_id, source, first tokens) — scheme/host
# case noise, a default :443 port, tracking params in varying order, session
# ids, fragments, and trailing slashes, so every canonicalization rule has
# live inputs at every SF. The Spark side builds the IDENTICAL string.
_URL_SYNTH_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END
           || '://'
           || CASE WHEN doc_id % 3 = 0 THEN upper(source || '.Example.com')
                   ELSE source || '.example.com' END
           || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
           || '/' || w1 || '/' || w2
           || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
           || '?'
           || CASE WHEN doc_id % 2 = 0 THEN 'utm_source=' || source || '&q=' || w1
                   WHEN doc_id % 4 = 3 THEN 'q=' || w1 || '&sid=' || CAST(doc_id % 100 AS VARCHAR) || '&ref=' || source
                   ELSE 'q=' || w1 END
           || CASE WHEN doc_id % 3 = 1 THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END
           AS url
    FROM (SELECT doc_id, source,
                 coalesce(string_split(text, ' ')[1], 'x') AS w1,
                 coalesce(string_split(text, ' ')[2], 'x') AS w2
          FROM documents)
"""


@register(
    "d_url_dedup",
    oracle=f"""
    WITH u AS ({_URL_SYNTH_SQL}),
    s1 AS (SELECT doc_id, url, string_split(url, '#')[1] AS nofrag FROM u),
    s2 AS (SELECT *, lower(string_split(nofrag, '://')[1]) AS scheme,
                     string_split(nofrag, '://')[2] AS rest FROM s1),
    s3 AS (SELECT *, string_split(rest, '/')[1] AS hostport FROM s2),
    s4 AS (SELECT *, substr(rest, length(hostport) + 1) AS pathq,
                     lower(hostport) AS host0 FROM s3),
    s5 AS (SELECT *,
                  CASE WHEN host0 LIKE '%:443'
                       THEN substr(host0, 1, length(host0) - 4) ELSE host0 END AS host,
                  string_split(pathq, '?')[1] AS path0,
                  coalesce(string_split(pathq, '?')[2], '') AS q FROM s4),
    s6 AS (SELECT *,
                  CASE WHEN path0 <> '/' AND path0 LIKE '%/'
                       THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS path,
                  list_sort(list_filter(string_split(q, '&'),
                    x -> substr(x, 1, 4) <> 'utm_' AND substr(x, 1, 4) <> 'sid='
                         AND x <> '')) AS kept FROM s5),
    c AS (SELECT doc_id, url,
                 scheme || '://' || host || path
                 || CASE WHEN len(kept) > 0
                         THEN '?' || array_to_string(kept, '&') ELSE '' END AS canon_url
          FROM s6)
    SELECT canon_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
           min(doc_id) AS kept_doc
    FROM c GROUP BY 1
    """,
    tags=("DEDUP-url", "X-dedup"),
    doc="URL canonicalization dedup (the normalization every web-corpus "
    "crawl dedup runs before exact URL matching — CCNet/RefinedWeb style): "
    "lowercase scheme and host, strip the default :443 port, drop the "
    "fragment and tracking params (utm_*, sid=), SORT surviving query "
    "params, strip one trailing slash from a non-root path; then group by "
    "the canonical form keeping the lowest doc_id. Pure JVM column program "
    "(splits + HOF filter + array_sort — no UDF), one combinable shuffle on "
    "the canonical key. URLs are synthesized deterministically with live "
    "case/port/param/fragment noise; the oracle rebuilds both the noise "
    "and the normalization in SQL, so every rule must match byte-for-byte.",
)
def d_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as DD

    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    w1 = F.coalesce(F.try_element_at(toks, F.lit(1)), F.lit("x"))
    w2 = F.coalesce(F.try_element_at(toks, F.lit(2)), F.lit("x"))
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(did % 3 == 0, F.upper(F.concat(F.col("source"), F.lit(".Example.com"))))
        .otherwise(F.concat(F.col("source"), F.lit(".example.com"))),
        F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/"), w1, F.lit("/"), w2,
        F.when(did % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        F.when(did % 2 == 0, F.concat(F.lit("utm_source="), F.col("source"), F.lit("&q="), w1))
        .when(did % 4 == 3, F.concat(
            F.lit("q="), w1, F.lit("&sid="), (did % 100).cast("string"),
            F.lit("&ref="), F.col("source"),
        ))
        .otherwise(F.concat(F.lit("q="), w1)),
        F.when(did % 3 == 1, F.concat(F.lit("#sec"), (did % 4).cast("string")))
        .otherwise(F.lit("")),
    )
    withc = d.select(did.alias("doc_id"), url.alias("url")).withColumn(
        "canon_url", DD.canonical_url("url")
    )
    return withc.groupBy("canon_url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("url").cast("bigint").alias("n_raw_variants"),
        F.min("doc_id").alias("kept_doc"),
    )


def _theta_oracle() -> str:
    from ..functions.rng import M as _M
    from ..functions.rng import rng_draw_sql
    from ..operators.corpus import THETA_K, THETA_SALT
    from ..operators.textops import poly_hash_duck_expr

    k = THETA_K
    draw = rng_draw_sql("th0", salt=THETA_SALT)
    est = lambda c, th: (
        f"CASE WHEN {th} = {_M} THEN CAST({c} AS DOUBLE) "
        f"ELSE CAST({(k - 1) * _M} AS DOUBLE) / CAST({th} AS DOUBLE) END"
    )

    def toks(al: str, lang: str) -> str:
        return (
            f"{al} AS (SELECT DISTINCT tok FROM (SELECT unnest({_TOKS}) AS tok "
            f"FROM documents WHERE lang = '{lang}') WHERE length(tok) > 0)"
        )

    def sketch(al: str, src: str) -> str:
        return (
            f"{al} AS (SELECT DISTINCT th FROM (SELECT {draw} AS th FROM "
            f"(SELECT {poly_hash_duck_expr('tok')} AS th0 FROM {src})) "
            f"ORDER BY th LIMIT {k})"
        )

    def stat(al: str, sk: str, cn: str, thn: str) -> str:
        return (
            f"{al} AS (SELECT CAST(count(*) AS BIGINT) AS {cn}, "
            f"CAST(CASE WHEN count(*) < {k} THEN {_M} ELSE max(th) END AS BIGINT) AS {thn} FROM {sk})"
        )

    return f"""
    WITH {toks('ta', 'en')}, {toks('tb', 'de')},
    {sketch('sa', 'ta')}, {sketch('sb', 'tb')},
    su AS (SELECT th FROM (SELECT th FROM sa UNION SELECT th FROM sb)
           ORDER BY th LIMIT {k}),
    {stat('sta', 'sa', 'ca', 'tha')}, {stat('stb', 'sb', 'cb', 'thb')},
    {stat('stu', 'su', 'cu', 'thu')},
    common AS (
      SELECT CAST(count(*) AS BIGINT) AS ci FROM sa JOIN sb USING (th), sta, stb
      WHERE th < least(tha, thb)
    ),
    ea AS (SELECT CAST(count(*) AS BIGINT) AS ea FROM ta),
    eb AS (SELECT CAST(count(*) AS BIGINT) AS eb FROM tb),
    ei AS (SELECT CAST(count(*) AS BIGINT) AS ei FROM ta JOIN tb USING (tok))
    SELECT 'card_a' AS op, ea AS n_exact, {est('ca', 'tha')} AS n_est FROM ea, sta
    UNION ALL
    SELECT 'card_b', eb, {est('cb', 'thb')} FROM eb, stb
    UNION ALL
    SELECT 'union', ea + eb - ei, {est('cu', 'thu')} FROM ea, eb, ei, stu
    UNION ALL
    SELECT 'intersect', ei,
           CASE WHEN least(tha, thb) = {_M} THEN CAST(ci AS DOUBLE)
                ELSE CAST(ci * {_M} AS DOUBLE) / CAST(least(tha, thb) AS DOUBLE) END
    FROM ei, common, sta, stb
    """


@register(
    "t_theta_setops",
    oracle=_theta_oracle,
    tags=("TXT-tokens", "A-sketch"),
    doc="Theta/KMV sketch set algebra: |A|, |B|, |A UNION B| and "
    "|A INTERSECT B| of two language token sets estimated from two k-hash "
    "sketches - the SET-OPERATION member that rounds out the mergeable "
    "sketch family (HLL distincts, GK quantiles, Misra-Gries heavy "
    "hitters, Count-Min frequencies). Each k-smallest is a distributed "
    "TakeOrdered (per-partition top-k, k rows of driver state, never the "
    "vocabulary); union exploits the KMV merge property (k smallest of "
    "the sketch union = k smallest of the set union); every set op runs "
    "on <= 2k-row broadcast frames. Deterministic scrambled hashing, so "
    "exact baselines AND the estimates themselves hash-verify.",
)
def t_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.theta_setops(_docs(spark, sf_dir))


def _dup_removal_ctes(src: str = "documents") -> str:
    """The span-removal CTE chain over relation ``src`` (doc_id, text) —
    shared by the standalone removal oracle and the composed cleaning
    pipeline. Ends with ``cln(doc_id, ctext)``."""
    return f"""g0 AS (
      SELECT doc_id, i AS pos, substr(text, i, {_DUP_K}) AS s
      FROM {src}, LATERAL (SELECT unnest(range(1, length(text) - {_DUP_K} + 2)) AS i)
    ),
    g AS (
      SELECT doc_id, pos, s FROM g0
      QUALIFY count(*) OVER (PARTITION BY s) <= {DUP_SPAN_HOT_CAP}
    ),
    cand AS (
      SELECT a.doc_id AS d1, a.pos AS p1, b.doc_id AS d2, b.pos AS p2
      FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT d1, d2, p2 - p1 AS delta, p1,
             p1 - row_number() OVER (PARTITION BY d1, d2, p2 - p1 ORDER BY p1) AS isl_id
      FROM cand
    ),
    spans AS (
      SELECT d1, d2, delta, isl_id, count(*) AS n, min(p1) AS p1s
      FROM isl GROUP BY 1, 2, 3, 4
    ),
    iv AS (
      SELECT d2 AS doc_id, p1s + delta AS s, p1s + delta + n + {_DUP_K - 1} AS e
      FROM spans
    ),
    rn AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS emax
      FROM iv
    ),
    grp AS (
      SELECT doc_id, s, e,
             sum(CASE WHEN emax IS NULL OR s > emax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS gid
      FROM rn
    ),
    merged AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM grp GROUP BY doc_id, gid),
    -- oracle reconstructs the cleaned text per CHARACTER (deliberately a
    -- different program than the engine's interval fold): keep position p
    -- iff no merged interval covers it
    pos AS (
      SELECT doc_id, p, substr(text, CAST(p AS INTEGER), 1) AS ch
      FROM {src}, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS p)
    ),
    kept AS (
      SELECT pos.doc_id, p, ch FROM pos
      WHERE NOT EXISTS (SELECT 1 FROM merged m
                        WHERE m.doc_id = pos.doc_id AND p >= m.s AND p < m.e)
    ),
    cln AS (
      SELECT doc_id, coalesce(string_agg(ch, '' ORDER BY p), '') AS ctext
      FROM kept GROUP BY doc_id
    )"""


def _dup_removal_oracle() -> str:
    from ..operators.textops import poly_hash_duck_expr

    return f"""
    WITH {_dup_removal_ctes("documents")}
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS n_before,
           CAST(length(d.text) - length(coalesce(c.ctext, '')) AS BIGINT) AS n_removed,
           CAST(length(coalesce(c.ctext, '')) AS BIGINT) AS n_after,
           CAST({poly_hash_duck_expr("coalesce(c.ctext, '')")} AS BIGINT) AS cleaned_hash
    FROM documents d LEFT JOIN cln c USING (doc_id)
    """


@register(
    "d_dup_span_removal",
    oracle=_dup_removal_oracle,
    tags=("DEDUP-exactsubstr", "DEDUP-ngram", "W5", "F7"),
    doc="ExactSubstr duplicate-span REMOVAL (the 'remove' half of Lee et "
    "al.'s char-level dedup, completing d_dup_spans' detection): every "
    "maximal shared run >= k chars is cut from the higher doc_id's text "
    "(keep-first star collapse), overlapping cut intervals merge via "
    "per-doc running-max gaps-and-islands, and the surgery is one linear "
    "aggregate-HOF fold per doc over its sorted merged intervals - O(len) "
    "per doc, no per-character explode, no UDF. The output carries the "
    "polynomial hash of the CLEANED text, so the oracle (which rebuilds "
    "cleaned text per-character, a deliberately different program) "
    "verifies the byte-exact surgery, not just the lengths.",
)
def d_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as DD
    from .shared import span_islands_df

    # r15: detection and removal share one session-lifetime island frame
    return DD.remove_duplicate_spans(
        _docs(spark, sf_dir), k=_DUP_K, islands=span_islands_df(spark, sf_dir)
    )


def _pipeline_span_clean_oracle() -> str:
    return f"""
    WITH fq AS (
      SELECT doc_id, text, lang FROM documents WHERE {_quality_raw_sql()} >= {_PREP_CUT}
    ),
    {_dup_removal_ctes("fq")}
    SELECT f.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(f.text)) AS BIGINT) AS chars_before,
           CAST(sum(length(f.text) - length(coalesce(c.ctext, ''))) AS BIGINT) AS chars_removed,
           CAST(sum(length(coalesce(c.ctext, ''))) AS BIGINT) AS chars_after,
           CAST(sum(CASE WHEN length(coalesce(c.ctext, '')) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_emptied
    FROM fq f LEFT JOIN cln c USING (doc_id)
    GROUP BY f.lang
    """


@register(
    "pipeline_span_clean",
    oracle=_pipeline_span_clean_oracle,
    tags=("TXT-quality", "DEDUP-exactsubstr", "A13", "U5"),
    doc="Cleaning pipeline: quality gate (q >= 0.3) -> ExactSubstr span "
    "removal over the gated survivors -> per-language contamination "
    "accounting (docs, chars before/removed/after, docs emptied entirely). "
    "The gate prunes BEFORE the rolling-hash island pays anything, and the "
    "only materialization in the chain is the island builder's tiny "
    "checkpointed candidate frame (r15 - one merge-join execution instead "
    "of three). The oracle chains the same gate CTE into the "
    "per-character removal replay.",
)
def pipeline_span_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as DD
    from ..operators import textops as TX

    from ..operators.dedup import ckpt_coalesced

    d = _docs(spark, sf_dir)
    # r15: checkpointing the gated corpus (TEXT BYTES) was tried and
    # REVERTED — materializing the gated text once measured SLOWER than
    # four scan+gate re-evaluations (probe min 3.9 s -> 6.7 s at sf0.1):
    # the checkpoint serialized the pipeline behind a full-corpus
    # materialization and paid its write+read.
    # r16 (the cheaper shared-gate shape the r15 verdict asked for):
    # evaluate the quality HOF (three split/filter/distinct passes per
    # doc) ONCE into a checkpointed doc_id-only survivor frame — skinny at
    # any corpus scale — and gate every downstream consumer with a
    # semi-join on it. The three re-reads of the corpus stay (they are
    # page-cached scans the reverted variant also couldn't avoid paying
    # for in write+read form); what disappears is re-running the gate
    # expression over every doc's token array 3 extra times. Survivor set
    # identical by determinism of the gate, so the join-gated q equals the
    # filter-gated q row-for-row. That equivalence assumes doc_id is a key
    # of `documents` (true of the sf0.001-sf0.1 tables): with a repeated
    # id, a copy that fails the gate would pass the semi-join on its
    # passing twin's id.
    gate_ids = ckpt_coalesced(
        d.filter(TX.quality_score() >= F.lit(_PREP_CUT)).select("doc_id")
    )
    q = d.join(gate_ids, "doc_id", "left_semi")
    rem = DD.remove_duplicate_spans(q.select("doc_id", "text"), k=_DUP_K)
    out = rem.join(q.select("doc_id", "lang"), "doc_id")
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_before").cast("bigint").alias("chars_before"),
        F.sum("n_removed").cast("bigint").alias("chars_removed"),
        F.sum("n_after").cast("bigint").alias("chars_after"),
        F.sum(F.when(F.col("n_after") == 0, 1).otherwise(0)).cast("bigint").alias("n_emptied"),
    )


_BM25_Q = ["join", "vector", "scan", "spark"]


def _bm25_oracle() -> str:
    k1 = CO.BM25_K1
    b = CO.BM25_B
    terms = ", ".join(f"'{t}'" for t in _BM25_Q)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ({terms}) GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
    dl AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOKS})) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM documents
    ),
    per_term AS (
      SELECT tf.doc_id,
             floor(
               ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(dfreq AS DOUBLE) + 0.5)
                        / (CAST(dfreq AS DOUBLE) + 0.5))
               * CAST(tf AS DOUBLE) * {lit_double(k1 + 1.0)}
               / (CAST(tf AS DOUBLE)
                  + {lit_double(k1)} * ({lit_double(1.0 - b)} + {lit_double(b)} * CAST(dl AS DOUBLE) / avgdl))
               * 1000000000.0 + 0.5) / 1000000000.0 AS s
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id, floor(sum(s) * 1000000.0 + 0.5) / 1000000.0 AS score,
             CAST(count(*) AS INTEGER) AS n_terms_hit
      FROM per_term GROUP BY 1
    )
    SELECT doc_id, score, n_terms_hit
    FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
    """


@register(
    "t_bm25_topk",
    oracle=_bm25_oracle,
    tags=("TXT-tokens", "O3", "A-sketch"),
    doc="Okapi BM25 top-10 for a fixed query-term set - the retrieval "
    "scorer behind RAG corpus curation. Postings are filtered to the |Q| "
    "query terms BEFORE the (doc, term) combine so the shuffle carries "
    "only matches; df is a second combinable agg; N and avgdl broadcast "
    "as one 1-row frame; top-k is TakeOrdered. The one libm call (ln) is "
    "applied to identical doubles in both engines (established TF-IDF "
    "parity) and scores quantize per-term at 1e-9 and per-doc at 1e-6 "
    "before ranking with the doc_id tiebreak.",
)
def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.bm25_topk(_docs(spark, sf_dir), _BM25_Q)


def _wsample_oracle() -> str:
    draw = rng_draw_sql("doc_id", "j", salt=CO.WSAMPLE_SALT)
    return f"""
    WITH weighted AS (
      SELECT doc_id,
             CAST(greatest(least(len({_TOKS}), {CO.WSAMPLE_CAP}), 1) AS INTEGER) AS w
      FROM documents
    ),
    drawn AS (
      SELECT doc_id, w, unnest(generate_series(1, w)) AS j FROM weighted
    ),
    keyed AS (
      SELECT doc_id, CAST(max(w) AS INTEGER) AS w,
             CAST(max({draw}) AS BIGINT) AS skey
      FROM drawn GROUP BY 1
    )
    SELECT doc_id, w, skey FROM keyed ORDER BY skey DESC, doc_id ASC LIMIT 10
    """


@register(
    "s_weighted_sample",
    oracle=_wsample_oracle,
    tags=("U4", "F8", "O3"),
    doc="Deterministic weighted reservoir sample (A-ES surrogate): key = "
    "max of w seeded integer draws per doc with w = min(tokens, cap) - "
    "distributionally the u^(1/w) A-ES key but on the integer lattice, "
    "so no pow/log anywhere. One bounded explode (cap*N rows, the "
    "tokenization cost class), combinable max, TakeOrdered top-k; "
    "slicing-independent by construction, unlike a stateful streaming "
    "reservoir.",
)
def s_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.weighted_sample(_docs(spark, sf_dir))


def _zipf_oracle() -> str:
    from ..functions.exact import dsum_sql

    return f"""
    WITH freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
      GROUP BY tok
    ),
    top AS (SELECT * FROM freq ORDER BY freq DESC, tok ASC LIMIT {CO.ZIPF_TOP_N}),
    ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rk FROM top
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_fit,
             {dsum_sql('ln(CAST(rk AS DOUBLE))')} AS sx,
             {dsum_sql('ln(CAST(freq AS DOUBLE))')} AS sy,
             {dsum_sql('ln(CAST(rk AS DOUBLE)) * ln(CAST(freq AS DOUBLE))')} AS sxy,
             {dsum_sql('ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE))')} AS sxx
      FROM ranked
    )
    SELECT n_fit,
           floor(((sxy - sx * sy / CAST(n_fit AS DOUBLE))
                  / (sxx - sx * sx / CAST(n_fit AS DOUBLE))) * 1000000.0 + 0.5)
             / 1000000.0 AS slope,
           floor((sy / CAST(n_fit AS DOUBLE)
                  - ((sxy - sx * sy / CAST(n_fit AS DOUBLE))
                     / (sxx - sx * sx / CAST(n_fit AS DOUBLE)))
                    * sx / CAST(n_fit AS DOUBLE)) * 1000000.0 + 0.5)
             / 1000000.0 AS intercept
    FROM agg
    """


@register(
    "t_zipf_fit",
    oracle=_zipf_oracle,
    tags=("TXT-tokens", "A-sketch", "A6"),
    doc="Zipf's-law fit of the token frequency spectrum: OLS slope / "
    "intercept of ln(freq) vs ln(rank) over the top-1000 tokens - the "
    "corpus-health diagnostic (natural text sits near slope -1). Token "
    "counts are one combinable agg; the rank frame is TakeOrdered (the "
    "vocabulary never sees a global sort); OLS sums go through the "
    "decimal-exact path on a constant-size frame.",
)
def t_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.zipf_fit(_docs(spark, sf_dir))


def _ppl_ctes() -> str:
    """Shared bigram-LM CTE chain (train + per-doc surprisal) — used by the
    standalone perplexity query and replayed inside the quality-funnel
    pipeline oracle so both filters are provably the same spec."""
    from ..functions.exact import dsum_sql

    return f"""
    toks AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    bi AS (
      SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i
            FROM toks WHERE len(l) >= 2)
    ),
    bgc AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf FROM bi GROUP BY 1, 2, 3
    ),
    bc AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12 FROM bgc GROUP BY 1, 2),
    uc AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS c1
      FROM (SELECT unnest(l) AS w1 FROM toks) GROUP BY 1
    ),
    vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc),
    scored AS (
      SELECT bgc.doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             floor(({dsum_sql('CAST(tf AS DOUBLE) * -ln((CAST(c12 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)))')}
                    / CAST(sum(tf) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS avg_nll
      FROM bgc JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vocab
      GROUP BY bgc.doc_id
    )"""


def _ppl_oracle() -> str:
    return f"""
    WITH {_ppl_ctes()}
    SELECT doc_id, n_bigrams, avg_nll
    FROM scored ORDER BY avg_nll DESC, doc_id ASC LIMIT {CO.PPL_TOP_K}
    """


@register(
    "t_bigram_perplexity",
    oracle=_ppl_oracle,
    tags=("TXT-tokens", "A-sketch", "O3"),
    doc="CCNet-style perplexity filter: an add-one-smoothed bigram LM "
    "trained on the corpus itself scores each doc by mean negative log-"
    "probability; the top-20 most surprising docs surface for removal. "
    "Bigram formation is a JVM transform over the token array (no "
    "window, no self-join); counts are combinable; count joins AQE-"
    "sized; per-doc sums decimal-exact; TakeOrdered top-k.",
)
def t_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ppl_topk(spark, sf_dir)


@session_view
def _ppl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-lifetime bigram-perplexity top-k frame (20 rows persisted) —
    t_bigram_perplexity and pipeline_quality_funnel's removal stage are
    registry siblings over the SAME corpus-LM scoring pass (the _topk memo
    doctrine); the funnel previously re-trained the bigram LM end to end
    (~2.5 s of its wall at sf0.1) to produce the identical 20-row id set."""
    return view_persist(CO.bigram_perplexity_topk(_docs(spark, sf_dir)))


def _funnel_oracle() -> str:
    return f"""
    WITH {_ppl_ctes()},
    bad AS (
      SELECT doc_id FROM scored ORDER BY avg_nll DESC, doc_id ASC LIMIT {CO.PPL_TOP_K}
    ),
    clean AS (
      SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    ),
    kept AS (
      SELECT lang, text,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM clean
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
    FROM kept WHERE rn = 1 GROUP BY lang
    """


@register(
    "pipeline_quality_funnel",
    oracle=_funnel_oracle,
    tags=("PIPE", "TXT-tokens", "DEDUP-exact"),
    doc="Composed corpus-quality funnel as ONE Spark plan: the bigram-LM "
    "perplexity filter drops the top-20 most surprising docs (anti-join "
    "on the TakeOrdered id set), exact-text dedup keeps the lowest id "
    "per text, and the survivors roll up to per-language doc/token "
    "counts. Demonstrates operator composition without materialization "
    "boundaries - Catalyst sees the whole funnel; the oracle replays "
    "every stage as one CTE chain sharing the perplexity spec verbatim.",
)
def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as DD

    d = _docs(spark, sf_dir)
    bad = _ppl_topk(spark, sf_dir).select("doc_id")
    clean = d.join(bad, "doc_id", "left_anti")
    kept = DD.exact_dedup(clean)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint"))
        .cast("bigint")
        .alias("n_tokens"),
    )


def _chunk_oracle() -> str:
    size, stride = CO.CHUNK_SIZE, CO.CHUNK_STRIDE
    a = f"({size} - len(l))"
    fd = f"(({a} - (({a}) % {stride} + {stride}) % {stride}) // {stride})"
    start = f"(1 + {stride} * (k - 1))"
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS l FROM documents WHERE len({_TOKS}) >= 1
    ),
    ks AS (
      SELECT doc_id, l, unnest(range(1, 1 + greatest(0, -1 * {fd}) + 1)) AS k
      FROM toks
    )
    SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
           CAST({start} AS INTEGER) AS start_tok,
           CAST(least({size}, len(l) - {start} + 1) AS INTEGER) AS n_tok,
           md5(array_to_string(l[{start} : {start} + {size} - 1], ' ')) AS chunk_md5
    FROM ks
    """


@register(
    "t_chunk_windows",
    oracle=_chunk_oracle,
    tags=("TXT-tokens", "W1", "PIPE"),
    doc="RAG document chunking: overlapping 64-token windows every 48 "
    "tokens with md5-stable chunk fingerprints - the chunk table a "
    "retrieval pipeline indexes. Chunk starts come from a JVM "
    "transform(sequence) over the token array (one Generate, no window, "
    "no join, no shuffle); the tail-chunk count uses the negatives-safe "
    "floor division (Spark div truncates toward zero).",
)
def t_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CO.chunk_documents(_docs(spark, sf_dir))


def _dsir_oracle() -> str:
    from ..functions.exact import dsum_sql, qround_sql
    from ..operators.textops import poly_hash_duck_expr

    return f"""
    WITH base AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ),
    ti AS (
      SELECT doc_id, source, ({poly_hash_duck_expr('tok')}) % 1024 AS b
      FROM (SELECT doc_id, source, unnest(toks) AS tok FROM base)
    ),
    di AS (
      SELECT doc_id, source,
             source = (SELECT min(source) FROM documents) AS is_t,
             b, CAST(count(*) AS BIGINT) AS k
      FROM ti GROUP BY 1, 2, 3, 4
    ),
    bstats AS (
      SELECT b, CAST(sum(k) AS BIGINT) AS cr,
             CAST(sum(CASE WHEN is_t THEN k ELSE 0 END) AS BIGINT) AS ct
      FROM di GROUP BY 1
    ),
    tots AS (
      SELECT CAST(sum(cr) AS BIGINT) AS rr, CAST(sum(ct) AS BIGINT) AS tt
      FROM bstats
    ),
    lrs AS (
      SELECT b,
             ln(CAST(ct + 1 AS DOUBLE) / (CAST(tt AS DOUBLE) + 1024.0))
               - ln(CAST(cr + 1 AS DOUBLE) / (CAST(rr AS DOUBLE) + 1024.0)) AS lr
      FROM bstats, tots
    )
    SELECT di.doc_id, di.source, CAST(sum(di.k) AS BIGINT) AS n_tokens,
           {qround_sql(dsum_sql('di.k * lrs.lr'), 6)} AS dsir_logweight
    FROM di JOIN lrs ON di.b = lrs.b
    GROUP BY 1, 2
    """


@register(
    "t_dsir_importance",
    oracle=_dsir_oracle,
    tags=("TXT-quality", "DEDUP-token", "A2"),
    doc="DSIR data-selection importance weights (Xie et al. 2023, the "
    "hashed-n-gram importance-resampling recipe behind modern pretraining "
    "data curation): per doc, the log likelihood ratio of its hashed "
    "unigram stream under the target domain's bucket distribution vs the "
    "raw corpus's (1024 buckets, add-one smoothing; the target domain is "
    "the lexicographically first source - deterministic). 100 TB shape: "
    "token hashing is the map-only inline char fold (no vocabulary frame), "
    "bucket stats are ONE combinable 1024-row aggregate, the log-ratio "
    "table broadcasts at kilobytes regardless of corpus size, and the only "
    "doc-keyed shuffle is the final per-doc sum (each ln term is bit-"
    "identical IEEE in both engines; contributions quantized by the "
    "decimal-exact sum, so the per-doc total is order-independent).",
)
def t_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import dsum, qround
    from ..operators.textops import poly_hash_sql_expr

    docs = _docs(spark, sf_dir)
    tgtf = docs.agg(F.min("source").alias("_tgt"))
    d2 = docs.crossJoin(F.broadcast(tgtf)).select(
        "doc_id",
        "source",
        (F.col("source") == F.col("_tgt")).alias("is_t"),
        "text",
    )
    ti = d2.select(
        "doc_id",
        "source",
        "is_t",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).select(
        "doc_id",
        "source",
        "is_t",
        F.pmod(F.expr(poly_hash_sql_expr("tok")), F.lit(1024)).alias("b"),
    )
    # (doc, bucket) instance counts FIRST: both the bucket stats and the
    # per-doc score derive from this one shuffle, so Catalyst's
    # ReuseExchange makes the corpus scan + token hashing happen ONCE
    # (consuming ti directly in both branches re-hashes the whole corpus)
    di = ti.groupBy("doc_id", "source", "is_t", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    bstats = di.groupBy("b").agg(
        F.sum("k").cast("bigint").alias("cr"),
        F.sum(F.when(F.col("is_t"), F.col("k")).otherwise(0)).cast("bigint").alias("ct"),
    )
    tots = bstats.agg(
        F.sum("cr").cast("bigint").alias("rr"), F.sum("ct").cast("bigint").alias("tt")
    )
    lrs = bstats.crossJoin(F.broadcast(tots)).select(
        "b",
        (
            F.log((F.col("ct") + 1).cast("double") / (F.col("tt").cast("double") + 1024.0))
            - F.log((F.col("cr") + 1).cast("double") / (F.col("rr").cast("double") + 1024.0))
        ).alias("lr"),
    )
    return (
        di.join(F.broadcast(lrs), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            qround(dsum(F.col("k") * F.col("lr")), 6).alias("dsir_logweight"),
        )
    )


def _kl_unigram_oracle() -> str:
    from ..functions.exact import qround_sql
    from ..operators.textops import poly_hash_duck_expr

    return f"""
    WITH ti AS (
      SELECT source, ({poly_hash_duck_expr('tok')}) % 1024 AS b
      FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents)
    ),
    sb AS (SELECT source, b, CAST(count(*) AS BIGINT) AS k FROM ti GROUP BY 1, 2),
    bs AS (SELECT b, CAST(sum(k) AS BIGINT) AS cb FROM sb GROUP BY 1),
    st AS (SELECT source, CAST(sum(k) AS BIGINT) AS ns FROM sb GROUP BY 1),
    tot AS (SELECT CAST(sum(cb) AS BIGINT) AS n FROM bs),
    grid AS (
      SELECT st.source, st.ns, bs.b, bs.cb, coalesce(sb.k, 0) AS k
      FROM st CROSS JOIN bs
      LEFT JOIN sb ON sb.source = st.source AND sb.b = bs.b
    ),
    terms AS (
      SELECT source, ns,
             CAST(floor(
               (CAST(k + 1 AS DOUBLE) / (CAST(ns AS DOUBLE) + 1024.0))
               * (ln(CAST(k + 1 AS DOUBLE) / (CAST(ns AS DOUBLE) + 1024.0))
                  - ln(CAST(cb + 1 AS DOUBLE) / (CAST(tot.n AS DOUBLE) + 1024.0)))
               * 1000000000000.0 + 0.5) AS BIGINT) AS ti
      FROM grid, tot
    )
    SELECT source, CAST(any_value(ns) AS BIGINT) AS n_tokens,
           {qround_sql('CAST(sum(ti) AS DOUBLE) / 1000000000000.0', 9)} AS kl_nats
    FROM terms GROUP BY 1
    """


@register(
    "t_kl_unigram",
    oracle=_kl_unigram_oracle,
    tags=("TXT-quality", "DEDUP-token", "A2"),
    doc="Per-source unigram KL divergence vs the whole corpus over the "
    "hashed 1024-bucket distribution (the DSIR feature space) - the domain-"
    "shift ranking a pretraining mixer reads before setting source weights "
    "(a source with high KL is lexically unlike the rest and dilutes or "
    "diversifies, depending on intent). Add-one smoothing keeps every "
    "bucket finite; the sum runs over the source x observed-bucket grid "
    "(a bucket some OTHER source hit still contributes this source's "
    "smoothed mass; buckets unseen corpus-wide are excluded by definition, "
    "mirrored in the oracle), built from one sources-frame cross join "
    "against the kilobyte bucket table - never a vocabulary frame. "
    "Exactness: each p*ln(p/q) term quantizes to the "
    "1e-12 lattice BEFORE an exact BIGINT term-sum (the a_value_entropy "
    "doctrine at KL precision; each ln input is the same IEEE double in "
    "both engines). 100 TB shape: map-only token hashing, one (source, "
    "bucket) combinable agg, everything after is bounded by 1024 x "
    "n_sources rows.",
)
def t_kl_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import qround
    from ..operators.textops import poly_hash_sql_expr

    docs = _docs(spark, sf_dir)
    ti = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select(
        "source", F.pmod(F.expr(poly_hash_sql_expr("tok")), F.lit(1024)).alias("b")
    )
    sb = ti.groupBy("source", "b").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    bs = sb.groupBy("b").agg(F.sum("k").cast("bigint").alias("cb"))
    st = sb.groupBy("source").agg(F.sum("k").cast("bigint").alias("ns"))
    tot = bs.agg(F.sum("cb").cast("bigint").alias("n"))
    grid = (
        st.crossJoin(F.broadcast(bs))
        .join(sb.hint("shuffle_hash"), ["source", "b"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "ns",
            "cb",
            "n",
            F.coalesce(F.col("k"), F.lit(0)).alias("k"),
        )
    )
    p = (F.col("k") + 1).cast("double") / (F.col("ns").cast("double") + 1024.0)
    q = (F.col("cb") + 1).cast("double") / (F.col("n").cast("double") + 1024.0)
    term = F.floor(p * (F.log(p) - F.log(q)) * F.lit(1e12) + F.lit(0.5)).cast("bigint")
    return (
        grid.withColumn("ti", term)
        .groupBy("source")
        .agg(
            F.first("ns").alias("n_tokens"),
            qround(F.sum("ti").cast("double") / F.lit(1e12), 9).alias("kl_nats"),
        )
    )


def _qsketch_oracle() -> str:
    """Exact replay of the bottom-k order sample (operators/sketch.py): the
    same seeded RNG draw per row, the same canonical (u, uid) bottom-k, the
    same integer lower-nearest rank pick — the sketch STATE is on trial,
    so the estimates hash-compare, unlike the band-adjudicated HLL/GK."""
    from ..operators.sketch import QSKETCH_K, QSKETCH_SALT

    draw = rng_draw_sql("event_id", salt=QSKETCH_SALT)
    return f"""
    WITH u AS (
      SELECT event_type, value, event_id, {draw} AS u FROM events
    ),
    s AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type ORDER BY u, event_id) AS rn
      FROM u
    ),
    samp AS (SELECT event_type, value, event_id FROM s WHERE rn <= {QSKETCH_K}),
    mm AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m FROM samp GROUP BY 1),
    nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
    o AS (
      SELECT sa.event_type, sa.value, mm.m,
             row_number() OVER (PARTITION BY sa.event_type
                                ORDER BY sa.value, sa.event_id) AS rv
      FROM samp sa JOIN mm USING (event_type)
    )
    SELECT o.event_type, any_value(nn.n) AS n, any_value(o.m) AS m,
           max(CASE WHEN o.rv = (50 * (o.m - 1)) // 100 + 1 THEN o.value END) AS p50,
           max(CASE WHEN o.rv = (90 * (o.m - 1)) // 100 + 1 THEN o.value END) AS p90,
           max(CASE WHEN o.rv = (99 * (o.m - 1)) // 100 + 1 THEN o.value END) AS p99
    FROM o JOIN nn USING (event_type)
    GROUP BY o.event_type
    """


@register(
    "a_quantile_sketch",
    oracle=_qsketch_oracle,
    tags=("A1", "A6", "A-sketch"),
    doc="Deterministic mergeable quantile sketch (bottom-k order sample, "
    "operators/sketch.py): per event_type, p50/p90/p99 read off the k=256 "
    "rows with the smallest seeded-RNG draw — a sketch whose state is a "
    "pure function of the input multiset, so unlike percentile_approx's "
    "JVM-internal GK state it is replayable in DuckDB and HASH-verified, "
    "and unlike KLL its merge needs no coins (bottom-k of a union is the "
    "bottom-k of merged bottom-k's; any partitioning or micro-batch "
    "slicing yields the identical state — proven in "
    "tests/test_quantile_sketch.py). Quantiles use integer lower-nearest "
    "ranks, so every output is a raw input double. 100 TB shape: Catalyst "
    "rewrites the rank filter into a map-side WindowGroupLimit Partial "
    "that caps each task at k rows per group before the single shuffle "
    "(the combiner, JVM-side); state is O(k) per group everywhere; the "
    "exact n comes from one combinable count.",
)
def a_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import sketch_quantiles

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "event_id")
    return sketch_quantiles(ev, "event_type", "value", ["event_id"])
