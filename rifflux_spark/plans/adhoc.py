"""Ad-hoc (index-free) forms of the engine's logical operators.

These run the same semantics as the physical posting-index path — same
tokenizer, same BM25 conventions — directly over a corpus DataFrame with
pure Catalyst ops. They exist for (a) the DuckDB correctness oracle in
``__spark_entry__.py`` (each has an ANSI-SQL twin) and (b) one-shot
queries where building the index isn't worth it. The physical index path
is verified separately against SQLite FTS5 (tests/test_bm25_rank_identity).

Scale note: the ad-hoc BM25 filters to the query's terms *before* the
tf aggregation, so the shuffle carries only matching (doc, term) pairs —
the same reduction the posting index gives, minus its persistence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rifflux_spark.functions.tokenizer import compile_query
from rifflux_spark.operators.postings import tokenize_udf


def tokenized_docs(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, tokens, dl) with the FTS5-parity tokenizer."""
    return documents.select(
        F.col(id_col),
        tokenize_udf(F.col(text_col)).alias("tokens"),
    ).withColumn("dl", F.size("tokens").cast("long"))


def bm25_logical(
    documents: DataFrame,
    query: str,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int | None = 4,
) -> DataFrame:
    """BM25 top-k as one declarative plan over a raw corpus table.

    Output: (doc_id, bm25_score) — FTS5 negated convention, ties by id.
    """
    terms = compile_query(query)
    spark = documents.sparkSession
    if not terms:
        return spark.createDataFrame([], f"{id_col} long, bm25_score double")
    mult: dict[str, int] = {}
    for t in terms:
        mult[t] = mult.get(t, 0) + 1

    toks = tokenized_docs(documents, id_col, text_col)
    stats = toks.agg(
        F.count("*").alias("n_docs"), (F.sum("dl") / F.count("*")).alias("avgdl")
    )

    exploded = toks.select(id_col, "dl", F.explode("tokens").alias("term")).filter(
        F.col("term").isin(list(mult))
    )
    tf = exploded.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))

    mult_df = spark.createDataFrame(list(mult.items()), "term string, mult int")
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(mult_df), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_raw",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "idf", F.when(F.col("idf_raw") <= 0, F.lit(1e-6)).otherwise(F.col("idf_raw"))
        )
        .withColumn(
            "contrib",
            F.col("mult")
            * F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    topk = (
        scored.groupBy(id_col)
        .agg(F.sum("contrib").alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(top_k)
    )
    out = topk.select(F.col(id_col), (-F.col("score")).alias("bm25_score"))
    if round_to is not None:
        out = out.select(id_col, F.round("bm25_score", round_to).alias("bm25_score"))
    return out


def bm25_oracle_sql(
    query: str,
    top_k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
) -> str:
    """The DuckDB twin of :func:`bm25_logical` (ASCII corpora: the FTS5
    tokenizer reduces to lowercase [0-9a-z]+ runs)."""
    terms = compile_query(query)
    mult: dict[str, int] = {}
    for t in terms:
        mult[t] = mult.get(t, 0) + 1
    terms_values = ", ".join(f"('{t}', {m})" for t, m in sorted(mult.items()))
    return f"""
WITH toks AS (
  SELECT {id_col}, u.t AS term
  FROM {table}, unnest(string_split_regex(lower({text_col}), '[^0-9a-z]+')) AS u(t)
  WHERE u.t <> ''
),
dl AS (
  SELECT {id_col},
         len(list_filter(string_split_regex(lower({text_col}), '[^0-9a-z]+'), x -> x <> '')) AS dl
  FROM {table}
),
stats AS (
  SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
),
qterms(term, mult) AS (VALUES {terms_values}),
tf AS (
  SELECT toks.{id_col}, toks.term, count(*) AS tf
  FROM toks JOIN qterms ON toks.term = qterms.term
  GROUP BY 1, 2
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.{id_col},
         sum(
           qterms.mult *
           (CASE WHEN ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5)) <= 0
                 THEN 1e-6
                 ELSE ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5)) END) *
           (tf.tf * ({k1} + 1.0)) /
           (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM tf
  JOIN dft USING (term)
  JOIN qterms ON tf.term = qterms.term
  JOIN dl ON dl.{id_col} = tf.{id_col}
  CROSS JOIN stats
  GROUP BY 1
)
SELECT {id_col}, round(-score, {round_to}) AS bm25_score
FROM scored
ORDER BY score DESC, {id_col} ASC
LIMIT {top_k}
""".strip()


def phrase_logical(
    documents: DataFrame,
    query: str,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int | None = 4,
) -> DataFrame:
    """Phrase BM25 top-k as one declarative plan over a raw corpus
    table — the ad-hoc twin of the indexed phrase path
    (a one-phrase MATCH through operators/ftsquery.py; same semantics,
    index-free).

    The phrase-occurrence count is a pure Catalyst array expression
    (``filter`` over candidate start positions with ``element_at``
    equality per offset — overlapping starts count, as in FTS5), so
    the corpus pass is map-only inside whole-stage codegen; the only
    wide operations are the two scalar aggregates (corpus stats and
    phrase df), both broadcast back. Output: (id, bm25_score),
    negated, ties by id.
    """
    phrase = compile_query(query)
    spark = documents.sparkSession
    if not phrase:
        return spark.createDataFrame([], f"{id_col} long, bm25_score double")
    m = len(phrase)

    toks = tokenized_docs(documents, id_col, text_col)

    def match_at(i):
        cond = F.element_at("tokens", i + 1) == phrase[0]
        for j in range(1, m):
            cond = cond & (F.element_at("tokens", i + F.lit(j + 1)) == phrase[j])
        return cond

    starts = F.when(
        F.size("tokens") >= m,
        F.sequence(F.lit(0), F.size("tokens") - m),
    ).otherwise(F.array().cast("array<int>"))
    tfp = toks.select(
        id_col,
        "dl",
        F.size(F.filter(starts, match_at)).cast("long").alias("tfp"),
    )
    stats = toks.agg(
        F.count("*").alias("n_docs"), (F.sum("dl") / F.count("*")).alias("avgdl")
    )
    hits = tfp.filter(F.col("tfp") > 0)
    dfp = hits.agg(F.count("*").cast("long").alias("df_p"))
    scored = (
        hits.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfp))
        .withColumn(
            "idf_raw",
            F.log((F.col("n_docs") - F.col("df_p") + 0.5) / (F.col("df_p") + 0.5)),
        )
        .withColumn(
            "idf",
            F.when(F.col("idf_raw") <= 0, F.lit(1e-6)).otherwise(F.col("idf_raw")),
        )
        .withColumn(
            "score",
            F.col("idf")
            * (F.col("tfp") * (k1 + 1.0))
            / (F.col("tfp") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    topk = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)
    out = topk.select(F.col(id_col), (-F.col("score")).alias("bm25_score"))
    if round_to is not None:
        out = out.select(id_col, F.round("bm25_score", round_to).alias("bm25_score"))
    return out


def phrase_oracle_sql(
    query: str,
    top_k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
) -> str:
    """The DuckDB twin of :func:`phrase_logical` (ASCII corpora)."""
    phrase = compile_query(query)
    m = len(phrase)
    conds = " AND ".join(
        f"tk[i + {j}] = '{p}'" for j, p in enumerate(phrase)
    )
    return f"""
WITH tk AS (
  SELECT {id_col},
         list_filter(string_split_regex(lower({text_col}), '[^0-9a-z]+'),
                     x -> x <> '') AS tk
  FROM {table}
),
tfp AS (
  SELECT {id_col}, len(tk)::BIGINT AS dl,
         CASE WHEN len(tk) >= {m} THEN
           len(list_filter(range(1, len(tk) - {m} + 2), i -> {conds}))::BIGINT
         ELSE 0 END AS tfp
  FROM tk
),
stats AS (SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM tfp),
hits AS (SELECT * FROM tfp WHERE tfp > 0),
dfp AS (SELECT count(*)::BIGINT AS df_p FROM hits),
scored AS (
  SELECT hits.{id_col},
         (CASE WHEN ln((stats.n_docs - dfp.df_p + 0.5) / (dfp.df_p + 0.5)) <= 0
               THEN 1e-6
               ELSE ln((stats.n_docs - dfp.df_p + 0.5) / (dfp.df_p + 0.5)) END) *
         (hits.tfp * ({k1} + 1.0)) /
         (hits.tfp + {k1} * (1.0 - {b} + {b} * hits.dl / stats.avgdl)) AS score
  FROM hits CROSS JOIN stats CROSS JOIN dfp
)
SELECT {id_col}, round(-score, {round_to}) AS bm25_score
FROM scored
ORDER BY score DESC, {id_col} ASC
LIMIT {top_k}
""".strip()


class _SqlBool:
    """String algebra for the match/actives fold: renders the boolean
    tree as an ANSI-SQL predicate (used by the DuckDB oracle twin)."""

    def __init__(self, sql: str) -> None:
        self.sql = sql

    def __and__(self, other: "_SqlBool") -> "_SqlBool":
        return _SqlBool(f"({self.sql} AND {other.sql})")

    def __or__(self, other: "_SqlBool") -> "_SqlBool":
        return _SqlBool(f"({self.sql} OR {other.sql})")

    def __invert__(self) -> "_SqlBool":
        return _SqlBool(f"(NOT {self.sql})")


def _unit_tf_column(unit, round_dummy=None):
    """Catalyst expression counting a unit's occurrences in `tokens`
    (overlapping starts; prefix on the last token) — pure array ops,
    map-only inside whole-stage codegen."""
    p = unit.tokens
    m = len(p)
    anchored = getattr(unit, "anchored", False)
    if m == 1 and not unit.prefix and not anchored:
        return F.size(F.filter("tokens", lambda x: x == p[0]))
    if m == 1 and unit.prefix and not anchored:
        return F.size(F.filter("tokens", lambda x: x.startswith(p[0])))

    def match_at(i):
        conds = []
        for j in range(m):
            el = F.element_at("tokens", i + F.lit(j + 1))
            if j == m - 1 and unit.prefix:
                conds.append(el.startswith(p[j]))
            else:
                conds.append(el == p[j])
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    starts = F.when(
        F.size("tokens") >= m,
        F.sequence(F.lit(0), F.lit(0) if anchored else F.size("tokens") - m),
    ).otherwise(F.array().cast("array<int>"))
    return F.size(F.filter(starts, match_at))


def _unit_tf_sql(unit, i: int) -> str:
    """The DuckDB twin of :func:`_unit_tf_column` as a SELECT item."""
    p = unit.tokens
    m = len(p)
    anchored = getattr(unit, "anchored", False)
    if m == 1 and not unit.prefix and not anchored:
        return f"len(list_filter(tk, x -> x = '{p[0]}'))::BIGINT AS tf_{i}"
    if m == 1 and unit.prefix and not anchored:
        return (
            f"len(list_filter(tk, x -> starts_with(x, '{p[0]}')))::BIGINT"
            f" AS tf_{i}"
        )
    conds = []
    for j in range(m):
        if j == m - 1 and unit.prefix:
            conds.append(f"starts_with(tk[s + {j}], '{p[j]}')")
        else:
            conds.append(f"tk[s + {j}] = '{p[j]}'")
    cond = " AND ".join(conds)
    hi = "1" if anchored else f"len(tk) - {m} + 1"
    return (
        f"CASE WHEN len(tk) >= {m} THEN "
        f"len(list_filter(range(1, {hi} + 1), s -> {cond}))::BIGINT "
        f"ELSE 0 END AS tf_{i}"
    )


def fts_logical(
    documents: DataFrame,
    query: str,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int | None = 4,
) -> DataFrame:
    """Full FTS5 MATCH evaluation as ONE declarative plan over a raw
    corpus table — the index-free twin of operators/ftsquery.py (same
    parser, same membership + ancestor-chain contribution semantics,
    which are themselves pinned rank/score-identical to SQLite FTS5).

    Plan shape: tokenize (Arrow UDF) → per-unit tf columns (pure array
    expressions, map-only) → ONE corpus aggregate for n_docs/avgdl and
    every unit df (broadcast back) → membership filter + active-gated
    score sum → TakeOrderedAndProject. No joins on the corpus, no
    explode — the wide work is a single map pass.
    """
    from rifflux_spark.functions.ftsparse import (
        collect_units,
        match_and_actives,
        parse_fts,
    )

    spark = documents.sparkSession
    ast = parse_fts(query)  # caller handles FtsSyntaxError
    if ast is None:
        return spark.createDataFrame([], f"{id_col} long, bm25_score double")
    units = collect_units(ast)
    n = len(units)

    toks = tokenized_docs(documents, id_col, text_col)
    tfs = toks.select(
        id_col,
        "dl",
        *[_unit_tf_column(u).cast("long").alias(f"tf_{i}") for i, u in enumerate(units)],
    )
    stats = tfs.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(n)
        ],
    )
    match_expr, actives = match_and_actives(
        ast, lambda i: F.col(f"tf_{i}") > 0
    )
    withstats = tfs.crossJoin(F.broadcast(stats)).filter(match_expr)
    score = F.lit(0.0)
    for i in range(n):
        if i not in actives:
            continue
        idf_raw = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        idf = F.when(idf_raw > 0, idf_raw).otherwise(F.lit(1e-6))
        wtf = (F.col(f"tf_{i}") * (k1 + 1.0)) / (
            F.col(f"tf_{i}")
            + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
        score = score + F.when(actives[i], idf * wtf).otherwise(F.lit(0.0))
    topk = (
        withstats.select(id_col, score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(top_k)
    )
    out = topk.select(F.col(id_col), (-F.col("score")).alias("bm25_score"))
    if round_to is not None:
        out = out.select(id_col, F.round("bm25_score", round_to).alias("bm25_score"))
    return out


def fts_oracle_sql(
    query: str,
    top_k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
) -> str:
    """The DuckDB twin of :func:`fts_logical` — the same AST renders
    its membership and per-unit active predicates through the string
    algebra, so the oracle carries the full FTS5 contribution rule."""
    from rifflux_spark.functions.ftsparse import (
        collect_units,
        match_and_actives,
        parse_fts,
    )

    ast = parse_fts(query)
    units = collect_units(ast)
    n = len(units)
    tf_items = ",\n         ".join(_unit_tf_sql(u, i) for i, u in enumerate(units))
    df_items = ",\n         ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{i}"
        for i in range(n)
    )
    match_sql, actives = match_and_actives(
        ast, lambda i: _SqlBool(f"(tf_{i} > 0)")
    )
    pieces = []
    for i in range(n):
        if i not in actives:
            continue
        idf = (
            f"(CASE WHEN ln((stats.n_docs - stats.df_{i} + 0.5) /"
            f" (stats.df_{i} + 0.5)) > 0"
            f" THEN ln((stats.n_docs - stats.df_{i} + 0.5) /"
            f" (stats.df_{i} + 0.5)) ELSE 1e-6 END)"
        )
        wtf = (
            f"(tfs.tf_{i} * ({k1} + 1.0)) /"
            f" (tfs.tf_{i} + {k1} * (1.0 - {b} + {b} * tfs.dl / stats.avgdl))"
        )
        pieces.append(
            f"CASE WHEN {actives[i].sql} THEN {idf} * {wtf} ELSE 0.0 END"
        )
    score_sql = " + ".join(pieces) if pieces else "0.0"
    return f"""
WITH tk AS (
  SELECT {id_col},
         list_filter(string_split_regex(lower({text_col}), '[^0-9a-z]+'),
                     x -> x <> '') AS tk
  FROM {table}
),
tfs AS (
  SELECT {id_col}, len(tk)::BIGINT AS dl,
         {tf_items}
  FROM tk
),
stats AS (
  SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl,
         {df_items}
  FROM tfs
),
scored AS (
  SELECT tfs.{id_col}, {score_sql} AS score
  FROM tfs CROSS JOIN stats
  WHERE {match_sql.sql}
)
SELECT {id_col}, round(-score, {round_to}) AS bm25_score
FROM scored
ORDER BY score DESC, {id_col} ASC
LIMIT {top_k}
""".strip()
