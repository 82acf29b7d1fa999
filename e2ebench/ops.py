"""Seeded operation lists for the three workloads.

Nothing here touches Spark: an operation is a plain dict, and the same
seed always yields the same sequence. Every list is built from repeating
*cycles* (``ask_serial``, ``operators``) or *blocks* (``serve_mixed``)
whose composition is fixed and whose order and literals the seed draws.
A run stops at a cycle or block boundary, so two seeds measure the same
mix of work with different inputs.

Operation fields: ``verb`` (what is measured), ``method``/``path``/
``body`` (the HTTP request; ``entry`` for registry operators), ``gold``
(DuckDB SQL whose rows are the right answer, or None), ``probe`` (the
kind of safety probe, or None) and ``key`` (identical operations share
a key; the replay check runs each key once).
"""

from __future__ import annotations

import itertools
import json
import random
from typing import Callable, Iterator

from datagen import SEGMENTS

ROW_CAP = 100  # the /ai/ask and /ai/run default row cap

_ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate"


def _op(verb: str, method: str, path: str, body: dict | None = None,
        gold: str | None = None, probe: str | None = None) -> dict:
    return {
        "verb": verb, "method": method, "path": path, "body": body or {},
        "gold": gold, "probe": probe,
        "key": f"{method} {path} {json.dumps(body or {}, sort_keys=True)}",
    }


def ask(question: str, gold: str | None) -> dict:
    return _op("ask", "POST", "/ai/ask", {"question": question}, gold)


# ------------------------------------------------------------ question grammar
# Each shape draws its literals from ``rng`` and returns (question, gold SQL).
# The shapes are the phrasings of the registry's NL2SQL entries with their
# literals, aggregates, measures and group keys made free; the gold SQL is
# the matching DuckDB query, with the same rounding the template tier emits.
Shape = Callable[[random.Random], tuple[str, str]]

_AGGS = {  # phrase -> (SQL aggregate over column c)
    "average": "round(avg({c}), 4)",
    "maximum": "max({c})",
    "minimum": "min({c})",
    "sum of": "round(sum({c}), 2)",
}
_MEASURES = [  # (phrase, table, measure column, group phrase, group column)
    ("acctbal", "customer", "c_acctbal", "mktsegment", "c_mktsegment"),
    ("totalprice", "orders", "o_totalprice", "orderpriority", "o_orderpriority"),
    ("totalprice", "orders", "o_totalprice", "orderstatus", "o_orderstatus"),
    ("retailprice", "part", "p_retailprice", "brand", "p_brand"),
]
_ORDER_GROUPS = ("orderpriority", "orderstatus")


def _count_over(rng: random.Random) -> tuple[str, str]:
    g, x = rng.choice(_ORDER_GROUPS), rng.randrange(20, 480) * 1000
    return (
        f"count of orders with totalprice over {x} per {g}",
        f"SELECT o_{g}, count(*) FROM orders WHERE o_totalprice > {x} "
        f"GROUP BY o_{g}",
    )


def _count_between(rng: random.Random) -> tuple[str, str]:
    g = rng.choice(_ORDER_GROUPS)
    lo = rng.randrange(10, 400) * 1000
    hi = lo + rng.randrange(20, 100) * 1000
    return (
        f"count of orders with totalprice between {lo} and {hi} per {g}",
        f"SELECT o_{g}, count(*) FROM orders "
        f"WHERE o_totalprice BETWEEN {lo} AND {hi} GROUP BY o_{g}",
    )


def _count_year(rng: random.Random) -> tuple[str, str]:
    g, y = rng.choice(_ORDER_GROUPS), rng.randrange(1995, 2002)
    return (
        f"count of orders from {y} per {g}",
        f"SELECT o_{g}, count(*) FROM orders WHERE year(o_orderdate) = {y} "
        f"GROUP BY o_{g}",
    )


def _top_orders(rng: random.Random) -> tuple[str, str]:
    n = rng.randrange(2, 41)
    return (
        f"top {n} orders by totalprice",
        f"SELECT {_ORDER_COLS} FROM orders "
        f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {n}",
    )


def _lowest_orders(rng: random.Random) -> tuple[str, str]:
    n = rng.randrange(2, 41)
    return (
        f"lowest {n} orders by totalprice",
        f"SELECT {_ORDER_COLS} FROM orders "
        f"ORDER BY o_totalprice, o_orderkey LIMIT {n}",
    )


def _orders_before(rng: random.Random) -> tuple[str, str]:
    y = rng.randrange(1996, 2002)
    return (
        f"orders placed before {y}",
        f"SELECT {_ORDER_COLS} FROM orders WHERE year(o_orderdate) < {y} "
        f"ORDER BY o_orderkey LIMIT {ROW_CAP}",
    )


def _rich_segments(rng: random.Random) -> tuple[str, str]:
    x = rng.randrange(3800, 5200, 10)
    return (
        f"segments with average acctbal above {x}",
        "SELECT c_mktsegment, round(avg(c_acctbal), 4) FROM customer "
        f"GROUP BY c_mktsegment HAVING avg(c_acctbal) > {x}",
    )


def _nations_min(rng: random.Random) -> tuple[str, str]:
    n = rng.randrange(40, 81)
    return (
        f"nations with at least {n} customers",
        "SELECT n_name, count(*) FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"GROUP BY n_name HAVING count(*) >= {n}",
    )


def _top_segments(rng: random.Random) -> tuple[str, str]:
    n = rng.randrange(1, 6)
    return (
        f"top {n} mktsegments by average acctbal",
        "SELECT c_mktsegment, round(avg(c_acctbal), 4) AS a FROM customer "
        f"GROUP BY c_mktsegment ORDER BY a DESC, c_mktsegment LIMIT {n}",
    )


def _top_nations(rng: random.Random) -> tuple[str, str]:
    n = rng.randrange(1, 26)
    return (
        f"top {n} nations by number of customers",
        "SELECT n_name, count(*) AS k FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"GROUP BY n_name ORDER BY k DESC, n_name LIMIT {n}",
    )


def _segment_per_nation(rng: random.Random) -> tuple[str, str]:
    seg = rng.choice(SEGMENTS)
    return (
        f"number of {seg} segment customers per nation name",
        "SELECT n_name, count(*) FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE c_mktsegment = '{seg}' GROUP BY n_name",
    )


def _agg_per_group(rng: random.Random) -> tuple[str, str]:
    agg = rng.choice(sorted(_AGGS))
    phrase, table, col, gphrase, gcol = rng.choice(_MEASURES)
    return (
        f"{agg} {phrase} per {gphrase} in {table}",
        f"SELECT {gcol}, {_AGGS[agg].format(c=col)} FROM {table} "
        f"GROUP BY {gcol}",
    )


SHAPES: dict[str, Shape] = {
    "count_over": _count_over,
    "count_between": _count_between,
    "count_year": _count_year,
    "top_orders": _top_orders,
    "lowest_orders": _lowest_orders,
    "orders_before": _orders_before,
    "rich_segments": _rich_segments,
    "nations_min": _nations_min,
    "top_segments": _top_segments,
    "top_nations": _top_nations,
    "segment_per_nation": _segment_per_nation,
    "agg_per_group": _agg_per_group,
}

# Registry NL2SQL questions (queries.py ``nl*`` entries built by
# ``_nl2sql``) asked verbatim; their gold is the entry's DuckDB oracle.
# A run uses every fifth of them (by name) and asks REGISTRY_PER_CYCLE
# per cycle in a fixed rotation; the warm-up asks each of them once.
# Their first-time costs differ by up to 5x (nl17 takes 1.7 s against a
# median of 0.3 s), so timed asks are warm repeats and the same for every
# seed: a cycle then costs about the same wherever a run's window ends.
REGISTRY_STRIDE = 5
REGISTRY_PER_CYCLE = 3
def registry_questions() -> list[tuple[str, str, str]]:
    """(entry name, question, gold SQL) for every gold-bearing NL2SQL
    registry entry, read from the engine's registry."""
    import ast

    from dbt_nlp_sqlizer_team04_spark.queries import ORACLE_SQL, SPARK_QUERIES

    out = []
    prefix = "NL2SQL pipeline on:"
    for name, fn in SPARK_QUERIES.items():
        doc = fn.__doc__ or ""
        gold = ORACLE_SQL.get(name)
        if name.startswith("nl") and doc.startswith(prefix) and isinstance(gold, str):
            out.append((name, ast.literal_eval(doc[len(prefix):].strip()), gold))
    return sorted(out)


def ask_serial(seed: int, registry: list[tuple[str, str, str]]) -> Iterator[list[dict]]:
    """Cycles of asks: every grammar shape once with fresh literals plus
    the next registry questions of the rotation, in a seeded order."""
    rng = random.Random(seed)
    rotation = itertools.cycle(registry[::REGISTRY_STRIDE])
    while True:
        cycle = [ask(*SHAPES[s](rng)) for s in SHAPES]
        for _ in range(REGISTRY_PER_CYCLE):
            _name, q, gold = next(rotation)
            cycle.append(ask(q, gold))
        rng.shuffle(cycle)
        yield cycle


def ask_warmup(registry: list[tuple[str, str, str]]) -> list[dict]:
    """One ask per grammar shape, with literals from a stream the timed
    seeds never use, and one per registry question of the rotation."""
    rng = random.Random("warm-up")
    return [ask(*SHAPES[s](rng)) for s in SHAPES] + [
        ask(q, gold) for _name, q, gold in registry[::REGISTRY_STRIDE]
    ]


# --------------------------------------------------------------- serve_mixed
_RUN_SQL = [
    "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
    "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "SELECT n_name, count(*) AS n FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n DESC, n_name",
    "SELECT o_orderstatus, count(*) AS n, sum(l_quantity) AS qty FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderstatus ORDER BY o_orderstatus",
    "SELECT p_brand, count(*) AS n, round(avg(l_quantity), 4) AS avg_qty FROM lineitem "
    "JOIN part ON l_partkey = p_partkey GROUP BY p_brand ORDER BY p_brand",
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT r_name, count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY r_name ORDER BY r_name",
]
_HOT_SEED = "serve_mixed hot set"
_PROBES = [
    ("refused", "/ai/run", {"sql": "DROP TABLE orders"}),
    ("refused", "/ai/run", {"sql": "DELETE FROM customer WHERE c_custkey = 1"}),
    ("refused", "/ai/run", {"sql": "INSERT INTO region VALUES (9, 'MOON')"}),
    ("bounded", "/ai/run", {"sql": "SELECT * FROM lineitem"}),
    ("bounded", "/ai/ask", {"question": "give me everything in customers"}),
    ("bounded", "/ai/ask", {"question": "drop the orders table"}),
]
# per block of 20: ~50% ask, 20% run, 10% nl2sql, 10% model query,
# 5% schema overview, 5% safety probes
BLOCK = (("ask", 10), ("run", 4), ("nl2sql", 2), ("model_query", 2),
         ("overview", 1), ("probe", 1))
ZIPF_S = 1.1


def hot_set(registry: list[tuple[str, str, str]]) -> dict[str, list[dict]]:
    """The small, fixed hot set per verb, most popular first."""
    rng = random.Random(_HOT_SEED)
    asks = [ask(*SHAPES[s](rng)) for s in SHAPES][:8]
    asks += [ask(q, gold) for _n, q, gold in registry[:4]]
    questions = [op["body"]["question"] for op in asks]
    return {
        "ask": asks,
        "run": [_op("run", "POST", "/ai/run", {"sql": s}, s) for s in _RUN_SQL],
        "nl2sql": [_op("nl2sql", "POST", "/ai/nl2sql", {"question": q})
                   for q in questions[:4]],
        "model_query": [_op("model_query", "POST", "/models/{schema_id}/query",
                            {"question": q}) for q in questions[:4]],
        "overview": [_op("overview", "GET", "/schema/overview")],
        "probe": [_op("probe", "POST", p, b, probe=kind) for kind, p, b in _PROBES],
    }


def serve_mixed(seed: int, hot: dict[str, list[dict]]) -> Iterator[list[dict]]:
    """Blocks of 20 requests with a fixed verb mix; within a verb each
    request is drawn Zipf-skewed from the hot set."""
    rng = random.Random(seed)
    weights = {
        verb: [1.0 / (r + 1) ** ZIPF_S for r in range(len(items))]
        for verb, items in hot.items()
    }
    while True:
        block = [
            rng.choices(hot[verb], weights[verb])[0]
            for verb, n in BLOCK for _ in range(n)
        ]
        rng.shuffle(block)
        yield block


# ----------------------------------------------------------------- operators
# One entry of bench.HEADLINE, the repository's operator sweep, per family,
# plus the write path (a streaming run into an update-mode upsert sink), so
# a change that speeds reads at the cost of writes shows. Each passes its
# oracle (or differential check) on the generated tables. The set is fixed
# and the seed draws the order of every cycle: drawing the entries too
# moved the median by 20% between seeds, as entries of one family differ
# in cost by that much. q159 (CDC upsert sink) and q135 (CDC merge) are
# not listed: on the generated tables their rounded revenue sums differ
# from the DuckDB oracle in the last cent (README.md, "Known failures").
OPERATORS: dict[str, str] = {
    "relational": "q93_binational_volume",
    "similarity": "q23_cosine_topk",
    "dedup": "q28_near_dup_minhash",
    "text": "q75_bm25_topk",
    "documents": "q181_doc_lookup_group_keyed",
    "timeseries": "q44_asof_last_click",
    "streaming": "q69_sliding_rollup",
    "write": "q147_stream_drift",
}


def operators(seed: int) -> tuple[list[str], Iterator[list[str]]]:
    """The entries and an endless sequence of cycles, each a seeded order
    of all of them."""
    rng = random.Random(seed)
    entries = list(OPERATORS.values())

    def cycles() -> Iterator[list[str]]:
        while True:
            cycle = list(entries)
            rng.shuffle(cycle)
            yield cycle

    return entries, cycles()
