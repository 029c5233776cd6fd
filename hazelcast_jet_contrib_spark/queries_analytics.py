"""Round-8 analytics queries: lexical retrieval (BM25), rolling
z-score anomaly screening, and strict-order funnel conversion — the
event/text analytics layer over the reference's ingested streams
(TwitterSources.java:85-146, RedisSources.java:273-395) and fetched
documents (MongoDBSources.java:80-96), with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.funnel import funnel_steps
from hazelcast_jet_contrib_spark.operators.retrieval import bm25_topk
from hazelcast_jet_contrib_spark.operators.timeseries import (
    rolling_zscore_anomalies,
)
from hazelcast_jet_contrib_spark.registry import query, table

_BM25_TERMS = ["data", "model", "training"]


@query(
    "bm25_topk_docs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len(t)) AS avgdl FROM toks),
    q(term) AS (VALUES ('data'),('model'),('training')),
    tf AS (
      SELECT doc_id, len(t) AS dl, term,
             CAST(len(list_filter(t, x -> x = term)) AS DOUBLE) AS tf
      FROM toks, q
      WHERE list_contains(t, term)
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               LN(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * (1.2 + 1)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl))
             ), 6) AS score
      FROM tf, stats JOIN dfreq ON tf.term = dfreq.term
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM scored ORDER BY score DESC, doc_id LIMIT 25
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-25 documents for a 3-term query (Lucene idf/tf
    formulation, k1=1.2 b=0.75). Scale: array_intersect restricts the
    corpus pass to query-term hits BEFORE the explode, stats/df join
    back as broadcasts, scoring is whole-stage-codegen arithmetic, and
    the cut is TakeOrderedAndProject (operators/retrieval.py)."""
    return bm25_topk(table(spark, sf_dir, "documents"), _BM25_TERMS, k=25)


@query(
    "rolling_zscore_anomaly",
    oracle="""
    WITH scored AS (
      SELECT user_id AS key, ts, value,
             COUNT(value) OVER w AS n,
             AVG(value) OVER w AS mu,
             AVG(value * value) OVER w AS msq
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT key, ts, value,
           ROUND((value - mu) / SQRT(GREATEST(msq - mu * mu, 0.0)), 6) AS z,
           ABS(ROUND((value - mu) / SQRT(GREATEST(msq - mu * mu, 0.0)), 6))
             > 2.5 AS is_anomaly
    FROM scored
    WHERE n >= 2 AND SQRT(GREATEST(msq - mu * mu, 0.0)) > 0
    """,
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling z-score anomaly screen over the event value
    series: each point scored against its own trailing-20 baseline
    (point excluded), |z| > 2.5 flagged. Scale: one shuffle on the
    user key, a bounded ROWS frame evaluated by WindowExec (3 window
    buffers — plan-asserted), no arrays or Python
    (operators/timeseries.py rolling_zscore_anomalies)."""
    ev = table(spark, sf_dir, "events")
    return rolling_zscore_anomalies(
        ev, "user_id", "ts", "value",
        lookback=20, threshold=2.5, tiebreak_col="event_id",
    )


@query(
    "funnel_conversion_steps",
    oracle="""
    WITH t0 AS (
      SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS t
      FROM events GROUP BY user_id
    ),
    t1 AS (
      SELECT e.user_id, MIN(e.ts) FILTER (
        WHERE e.event_type = 'click' AND t0.t IS NOT NULL AND e.ts > t0.t
      ) AS t
      FROM events e JOIN t0 USING (user_id) GROUP BY e.user_id, t0.t
    ),
    t2 AS (
      SELECT e.user_id, MIN(e.ts) FILTER (
        WHERE e.event_type = 'purchase' AND t1.t IS NOT NULL AND e.ts > t1.t
      ) AS t
      FROM events e JOIN t1 USING (user_id) GROUP BY e.user_id, t1.t
    ),
    c AS (
      SELECT (SELECT COUNT(t) FROM t0) AS c0,
             (SELECT COUNT(t) FROM t1) AS c1,
             (SELECT COUNT(t) FROM t2) AS c2
    )
    SELECT 1 AS step, 'view' AS step_name, c0 AS users,
           ROUND(CASE WHEN c0 > 0 THEN 1.0 ELSE 0.0 END, 6) AS conversion
    FROM c
    UNION ALL
    SELECT 2, 'click', c1,
           ROUND(CASE WHEN c0 > 0 THEN CAST(c1 AS DOUBLE) / c0 ELSE 0.0 END, 6)
    FROM c
    UNION ALL
    SELECT 3, 'purchase', c2,
           ROUND(CASE WHEN c0 > 0 THEN CAST(c2 AS DOUBLE) / c0 ELSE 0.0 END, 6)
    FROM c
    """,
)
def funnel_conversion_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order view→click→purchase funnel: users reaching step k
    via an event strictly after their earliest step-(k-1) completion.
    Scale: ONE shuffle on the user key — every step is a window min
    over the same partitioning (Catalyst chains the Window nodes
    without re-exchanging), counts partial-aggregate globally
    (operators/funnel.py funnel_steps)."""
    ev = table(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"])


# ---------------------------------------------------------------------------
# Round-9: PageRank over an events-derived graph + cohort retention
# ---------------------------------------------------------------------------

_PR_DAMP, _PR_ITERS = 0.85, 10

# Deterministic directed graph from the events stream: user buckets
# point at the event types they emit; event types point at a SECOND
# (coprime) user bucketing, so the graph has cycles, asymmetric
# in/out-degree, and the 'v'-side nodes are dangling (no out-edges) —
# exercising the dangling-mass redistribution path of the operator.
_PR_EDGES_SQL = """
    SELECT DISTINCT 'u' || CAST(user_id % 50 AS VARCHAR) AS src,
           't' || event_type AS dst FROM events
    UNION
    SELECT DISTINCT 't' || event_type, 'v' || CAST(user_id % 53 AS VARCHAR)
    FROM events
"""


def _pagerank_oracle() -> str:
    """10 unrolled synchronous power-iteration sweeps as MATERIALIZED
    CTEs (non-materialized CTEs would re-inline the whole chain at
    every reference — exponential expansion). Exactly the operator's
    semantics: uniform init 1/N, dangling mass redistributed uniformly,
    rank = (1-d)/N + d*(inflow + dangling/N), rounded at OUTPUT only."""
    parts = [
        f"WITH edges AS MATERIALIZED ({_PR_EDGES_SQL}),",
        """nodes AS MATERIALIZED (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        deg AS MATERIALIZED (
          SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
        ),
        r0 AS MATERIALIZED (
          SELECT node, (SELECT 1.0 / n FROM cnt) AS rank FROM nodes
        )""",
    ]
    for i in range(_PR_ITERS):
        parts.append(f""",
        d{i} AS MATERIALIZED (
          SELECT COALESCE(SUM(r.rank), 0.0) AS dm
          FROM r{i} r LEFT JOIN deg USING (node) WHERE deg.deg IS NULL
        ),
        r{i + 1} AS MATERIALIZED (
          SELECT nd.node,
                 (1 - {_PR_DAMP}) / (SELECT n FROM cnt)
                 + {_PR_DAMP} * (COALESCE(inf.infl, 0.0)
                                 + (SELECT dm FROM d{i}) / (SELECT n FROM cnt))
                 AS rank
          FROM nodes nd LEFT JOIN (
            SELECT e.dst AS node, SUM(r.rank / deg.deg) AS infl
            FROM r{i} r JOIN deg USING (node) JOIN edges e ON e.src = r.node
            GROUP BY e.dst
          ) inf USING (node)
        )""")
    parts.append(
        f"\nSELECT node, ROUND(rank, 8) AS rank FROM r{_PR_ITERS}"
    )
    return "".join(parts)


@query("pagerank_event_graph", oracle=_pagerank_oracle())
def pagerank_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, 10 fixed sweeps) over the deterministic
    events graph above, proven exact against 10 unrolled power-iteration
    CTEs — ranks sum to ~1 and round at output only. Scale: one
    out-degree aggregate up front, then per sweep ONE shuffle join
    (ranks ⋈ edges) + ONE aggregation over the contributions ∪ the
    previous state, lineage cut per sweep by its checkpoint job, which
    also carries the one driver-side value (the dangling-mass scalar,
    an Observation); 41 Spark jobs at sf0.01 once the events schema is
    read, pinned in tests/test_graph.py; growth law measured in
    tests/test_scale_rehearsal_analytics.py (operators/graph.py
    pagerank)."""
    from hazelcast_jet_contrib_spark.operators.graph import pagerank

    ev = table(spark, sf_dir, "events")
    edges = (
        ev.select(
            F.concat(F.lit("u"), (F.col("user_id") % 50).cast("string")).alias("src"),
            F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
        )
        .unionByName(
            ev.select(
                F.concat(F.lit("t"), F.col("event_type")).alias("src"),
                F.concat(F.lit("v"), (F.col("user_id") % 53).cast("string")).alias(
                    "dst"
                ),
            )
        )
        .distinct()
    )
    return pagerank(edges, damping=_PR_DAMP, iterations=_PR_ITERS)


@query(
    "cohort_retention_weekly",
    oracle="""
    WITH e AS (
      SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS p
      FROM events
    ),
    firsts AS (SELECT user_id, MIN(p) AS cohort FROM e GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, p FROM e),
    j AS (
      SELECT a.user_id, f.cohort,
             CAST(date_diff('day', f.cohort, a.p) / 7 AS INT) AS "offset"
      FROM active a JOIN firsts f USING (user_id)
      WHERE date_diff('day', f.cohort, a.p) / 7 BETWEEN 0 AND 12
    ),
    sizes AS (
      SELECT cohort, COUNT(*) AS cohort_users FROM firsts GROUP BY cohort
    )
    SELECT CAST(j.cohort AS DATE) AS cohort, j."offset", sizes.cohort_users,
           COUNT(*) AS retained,
           ROUND(CAST(COUNT(*) AS DOUBLE) / sizes.cohort_users, 6) AS retention
    FROM j JOIN sizes USING (cohort)
    GROUP BY 1, 2, 3
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle over the events stream (12
    offsets): cohort = week of first event, retained = any event in
    cohort+k weeks. Scale: one user-keyed shuffle for first-seen;
    activity reduces to DISTINCT (user, week) BEFORE joining the tiny
    cohort relation, so the join is bounded by users × active weeks,
    never events (operators/funnel.py cohort_retention)."""
    from hazelcast_jet_contrib_spark.operators.funnel import cohort_retention

    ev = table(spark, sf_dir, "events")
    out = cohort_retention(ev, period="week", max_periods=12)
    return out.select(
        F.to_date("cohort").alias("cohort"),
        "offset",
        "cohort_users",
        "retained",
        "retention",
    )
