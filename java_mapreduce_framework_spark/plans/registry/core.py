"""Declared query registry: the single source of truth behind
``__spark_entry__.py``'s ``queries()`` / ``oracle_sql()`` contract.

Every operator from SURVEY.md section 2B registers here as a
``QuerySpec``: a PySpark callable ``(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) the equivalent ANSI SQL the DuckDB oracle
runs over the same parquet fixtures. Column names and types are
aligned on both sides because the driver's comparison hashes values
under name-sorted columns.

Alignment rules used throughout (SURVEY.md section 7 risk register):
- every computed column aliased identically in Spark and SQL;
- DuckDB widths cast to Spark's (year/length/rank -> INT, sum(int) ->
  BIGINT vs DuckDB's HUGEINT);
- doubles rounded (2 for money, 4 for ratios, 6 pre-ranking) on both
  sides, after arithmetic written in the same order;
- timestamps compared under UTC (session tz pinned in ``_prep``);
- ties in every ORDER BY broken by a unique key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ...session import tune_session
from ...sources.tables import load_table

# ---------------------------------------------------------------- helpers

#: DuckDB tokenizer fragment == functions.text.tokens_col semantics.
_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), s -> s <> '')"

#: (doc_id, word) occurrence stream, shared by the wordcount family.
_WORDS_CTE = f"""
WITH words AS (
  SELECT doc_id, unnest({_TOKS}) AS word
  FROM documents
)
"""

#: events with ts truncated ns -> us, matching Spark's microsecond
#: timestamp representation (see sources.tables.load_table).
_EVTS = (
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props "
    "FROM events) evts"
)

#: English stopwords: the quality measures below and text's lang_id
#: oracles (beside its ``_ES`` / ``_DE`` sets).
_EN = "('the','a','of','and','to','in','is')"

#: Quality-score formula + its measures CTE, shared verbatim by the
#: quality_score / quality_stratify / curation_pipeline oracles so the
#: formula lives in ONE place on the SQL side (mirror of
#: operators/text.py::quality_score).
_QUALITY_EXPR = (
    "round(least(n_tokens * 1.0 / 100.0, 1.0)"
    " * (1 - n_punct * 1.0 / greatest(n_chars, 1))"
    " * (0.5 + 0.5 * (stop_hits * 1.0 / greatest(n_tokens, 1))), 4)"
)

_QUALITY_MEASURES_CTE = f"""
    toks AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(t) AS INTEGER) AS n_tokens,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct,
             len(list_filter(t, x -> x IN {_EN})) AS stop_hits
      FROM toks)
"""


#: 30-minute-gap sessionization of events, (user_id, event_id,
#: session_id): the ``sessionize`` oracle, reused by the temporal and
#: analytics queries that group by session.
_SESSIONIZE_SQL = """
  SELECT user_id, event_id,
         CAST(sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM {_EVTS})
""".replace("{_EVTS}", _EVTS)


#: One row per 30-minute-gap session, (user_id, n_events,
#: session_start, session_end): the batch session-window oracle and its
#: streaming twins' oracle.
_SESSION_WINDOW_SQL = """
  WITH d AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM {_EVTS}),
  s AS (
    SELECT user_id, ts,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM d)
  SELECT user_id, count(*) AS n_events,
         min(ts) AS session_start, max(ts) AS session_end
  FROM s GROUP BY user_id, sid
""".replace("{_EVTS}", _EVTS)


#: Recursive-CTE reachability oracle for connected components over the
#: 0.8 near-dup pair graph (min root label per node).
_CC_ORACLE = f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b
      FROM com
      JOIN sizes na ON com.doc_a = na.doc_id
      JOIN sizes nb ON com.doc_b = nb.doc_id
      WHERE c * 1.0 / (na.n + nb.n - c) >= 0.8),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, root) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node)
    SELECT node AS doc_id, min(root) AS component_id
    FROM reach GROUP BY node
    """


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    note: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def _insert(spec: QuerySpec) -> None:
    """Add ``spec`` to the registry. Re-registering a name would
    silently replace its fn AND oracle together (the sweep keeps
    passing because both swap at once), so a duplicate is a hard
    error."""
    if spec.name in _REGISTRY:
        raise AssertionError(
            f"duplicate registration of {spec.name!r} -- the name is "
            "already declared by an earlier registry module"
        )
    _REGISTRY[spec.name] = spec


def _register(name: str, oracle: str | None, note: str = ""):
    def deco(fn):
        # Decorator-placement guard: an edit that splices a new
        # registration between another query's decorator and its def
        # silently rebinds that query to the WRONG function. The
        # `_<name>` convention makes the splice a hard import error
        # instead of a silent wrong answer.
        if fn.__name__ != f"_{name}":
            raise AssertionError(
                f"@_register({name!r}) decorates {fn.__name__}; expected "
                f"_{name} -- a new registration was likely spliced between "
                "another query's decorator and its def"
            )

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        _insert(QuerySpec(name, wrapped, oracle, note))
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def registry() -> dict[str, QuerySpec]:
    return dict(_REGISTRY)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {n: s.oracle for n, s in _REGISTRY.items() if s.oracle is not None}


