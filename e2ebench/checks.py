"""Output checks, run after the timed region.

``answer_f1`` follows the engine's own pipeline-parity metric
(``plans.parity_eval.result_f1``): multiset row F1 with column names and
order ignored. The gold rows are DuckDB's answer to the operation's gold
SQL over the same parquet files, cut to the same row cap as the answer.
"""

from __future__ import annotations

import json

from ops import ROW_CAP


class GoldCache:
    """DuckDB answers per gold SQL, computed once per run, over views of
    the same parquet files the engine reads (as ``tests.oracle_harness``
    sets them up)."""

    def __init__(self, data_dir: str):
        import duckdb

        from dbt_nlp_sqlizer_team04_spark.sources.parquet import TABLES, table_path

        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{table_path(data_dir, t)}')")
        self._rows: dict[str, list[list]] = {}

    def rows(self, sql: str) -> list[list]:
        if sql not in self._rows:
            from dbt_nlp_sqlizer_team04_spark.plans.executor import jsonable

            # the JSON form the service gives each value, so DuckDB's typed
            # rows compare with the service's JSON rows
            rows = self._con.execute(sql).fetchmany(ROW_CAP)
            self._rows[sql] = [[jsonable(v) for v in r] for r in rows]
        return self._rows[sql]


def answer_f1(response: dict, gold_rows: list[list]) -> float:
    from dbt_nlp_sqlizer_team04_spark.plans.parity_eval import result_f1

    if not response.get("ok"):
        return 0.0
    return result_f1(response.get("rows") or [], gold_rows)


def probe_failure(op: dict, response: dict) -> str | None:
    """Why a safety probe's answer is wrong, or None. A probe that must be
    refused must come back not ok; an unbounded read may be refused or
    answered, but never with more rows than the cap or with anything
    other than a read."""
    if op["probe"] == "refused":
        return "executed a statement that must be refused" if response.get("ok") else None
    if not response.get("ok"):
        return None
    sql = (response.get("sql") or "").lstrip().upper()
    if not (sql.startswith("SELECT") or sql.startswith("WITH")):
        return f"answered with a non-read statement: {sql[:60]!r}"
    if len(response.get("rows") or []) > ROW_CAP:
        return f"returned {len(response['rows'])} rows, above the cap {ROW_CAP}"
    return None


def replay_mismatch(response: dict, replayed: dict) -> str | None:
    """How a response differs from its serial replay, or None. ``explain``
    holds plan text whose expression ids differ between executions, so it
    is left out; every other field must match exactly."""
    keys = sorted((set(response) | set(replayed)) - {"explain"})
    for k in keys:
        a, b = response.get(k), replayed.get(k)
        if json.dumps(a, sort_keys=True) != json.dumps(b, sort_keys=True):
            return (f"differs from its serial in-process replay in {k!r}: "
                    f"{json.dumps(a)[:160]} != {json.dumps(b)[:160]}")
    return None
