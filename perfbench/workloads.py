"""The three workloads: their inputs, ops and output checks.

An op is one unit of work a user waits for. It has a build phase (up to
the return of the lazy DataFrame, including every eager job the program
runs on the way) and an action phase (the sink or write). Each check
runs after the timed region and returns None when the output is right,
else a one-line reason. Ops read the live session from `ctx.spark`, so
one op list survives the set-up cycles' session restarts.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import subprocess
import sys
from dataclasses import dataclass
from typing import Any, Callable

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
# every action writes to fresh paths, so each pass's output is checked
_SEQ = itertools.count()

# input sizes per profile; `warm_*` size the set-up op's small input
SIZES = {
    "full": {
        "recipe_logs": {
            "suites": {"nightly": {"sklearn": 24, "omnisci": 24},
                       "weekly": {"sklearn": 16, "omnisci": 16}},
            "warm_rows": 2_000,
        },
        "agg_sweep": {"rows": 150_000, "files": 4, "high": 15_000, "warm_rows": 2_000},
        "query_fleet": {"docs": 500, "vecs": 500, "warm_docs": 200, "warm_vecs": 200},
    },
    "smoke": {
        "recipe_logs": {
            "suites": {"nightly": {"sklearn": 8, "omnisci": 8},
                       "weekly": {"sklearn": 4, "omnisci": 4}},
            "warm_rows": 2_000,
        },
        "agg_sweep": {"rows": 20_000, "files": 2, "high": 2_000, "warm_rows": 2_000},
        "query_fleet": {"docs": 120, "vecs": 120, "warm_docs": 120, "warm_vecs": 120},
    },
}

# the key-cardinality axis on the partial-aggregating mean, the exact
# DECIMAL mean on the high-cardinality key, and the exact median (no
# partial aggregation) on the Zipf key, whose hottest group lands on
# one reducer; agg_ops adds one ratio_of recipe
AGG_OPS = (
    ("mean", "low"),
    ("mean", "high"),
    ("mean_exact", "high"),
    ("median", "skew"),
)
FLEET = (
    "near_dup_pairs",
    "knn_imi_pq_persisted",
    "kmeans_centroids",
    "minhash_lsh_candidates",
)
FLEET_WARM = "minhash_lsh_candidates"
# the test data's generator seed: the fleet's inputs never vary, the
# run seed permutes the op order instead
FLEET_DATA_SEED = 42


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], str | None]


def generate(workload: str, root: str, seed: int, profile: str) -> None:
    """Write the workload's inputs in a child process, so generation
    never touches the measured process's memory or time."""
    if workload == "query_fleet":
        seed = FLEET_DATA_SEED
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), workload, root, str(seed),
         json.dumps(SIZES[profile][workload])],
        check=True,
    )


# ---------------------------------------------------------------------------
# recipe_logs
# ---------------------------------------------------------------------------


def _yaml(path: str, obj: dict) -> str:
    import yaml

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        yaml.safe_dump(obj, f, sort_keys=False)
    return path


_DIMS = {"series": ["Prefix"], "axis": ["Function", "Size"], "variants": ["Arch"]}


def write_raw_recipe(root: str, suite: str, fmt: str) -> str:
    """Raw layer for one suite's log format: scan, line filter, header,
    rename, Arch from the directory name, mean Time per dims."""
    from gen import RAW_INPUT, RAW_RENAME

    header, line_filter = RAW_INPUT[fmt]
    inp: dict = {"path": f"{root}/runs/*/{suite}/*/*_{fmt}.out", "format": "csv"}
    if header:
        inp["csv-header"] = header
    if line_filter:
        inp["filter"] = line_filter
    pre = {"Arch": "row['Directory'].split('/')[-1].split('_')[0]"}
    if fmt == "sklearn":
        pre["Size"] = "int(row['SizeSpec'].split('x')[0])"
    raw: dict = {"input": inp}
    if RAW_RENAME[fmt]:
        raw["rename"] = RAW_RENAME[fmt]
    raw.update({"precomputed": pre, "aggregation": "mean", **_DIMS, "values": ["Time"]})
    return _yaml(f"{root}/recipes/raw/{suite}_{fmt}.yml", raw)


def write_suite_recipes(root: str, suite: str, formats: list[str]) -> str:
    """raw (one per format) -> indicators -> summary; returns the summary
    recipe's path."""
    for fmt in formats:
        write_raw_recipe(root, suite, fmt)
    _yaml(
        f"{root}/recipes/indicators/{suite}.yml",
        {
            "input": {"config": [f"../raw/{suite}_{fmt}.yml" for fmt in formats]},
            "precomputed": {
                "Ratio": "1 / ratio_of('Time', Prefix='stock')",
                "drop": "row['Prefix'] == 'stock'",
            },
            "filter-in": {"drop": [False]},
            "aggregation": "median",
            **_DIMS,
            "values": ["Ratio"],
        },
    )
    return _yaml(
        f"{root}/recipes/summary_{suite}.yml",
        {
            "input": {
                "config": [f"indicators/{suite}.yml"],
                "path": f"{root}/targets_{suite}.csv",
                "format": "csv",
            },
            "aggregation": "geomean",
            "series": ["Prefix"],
            "axis": ["Function"],
            "variants": ["Arch"],
            "values": ["Ratio"],
        },
    )


def recipe_ops(ctx, root: str, out_dir: str, suites: dict[str, dict[str, int]]) -> list[Op]:
    """One op per suite: its DAG aggregated, then the CSV, pivot-text and
    HTML sinks."""
    from bearysta_spark import sinks
    from bearysta_spark.engine import RecipeEngine
    from gen import ARCHES, FUNCTIONS, expected_summary

    rows = pd.read_csv(os.path.join(root, "logical.csv"))
    os.makedirs(out_dir, exist_ok=True)
    ops = []
    for suite, formats in suites.items():
        summary = write_suite_recipes(root, suite, list(formats))
        targets = pd.read_csv(os.path.join(root, f"targets_{suite}.csv"))
        expected = expected_summary(rows[rows["suite"] == suite], targets)
        funcs = [f for fmt in formats for f in FUNCTIONS[fmt]]

        def build(summary=summary):
            eng = RecipeEngine(ctx.spark, summary)
            return eng, eng.aggregated()

        def action(built, suite=suite):
            eng, agg = built
            n = next(_SEQ)
            csv_path = os.path.join(out_dir, f"{suite}-{n}.csv")
            sinks.to_csv(agg, csv_path)
            tables = list(eng.pivot_tables(agg))
            texts = [sinks.pivot_string(t) for _, t in tables]
            html = sinks.to_html(tables, os.path.join(out_dir, f"{suite}-{n}.html"))
            return csv_path, texts, html

        def check(out, expected=expected, funcs=funcs):
            csv_path, texts, html = out
            got = pd.read_csv(csv_path)
            keys = ["Prefix", "Function", "Arch"]
            m = expected.merge(got[keys + ["Ratio"]], on=keys, how="outer", suffixes=("", "_got"))
            if len(m) != len(expected) or len(got) != len(expected):
                return f"{len(got)} summary rows, expected {len(expected)}"
            # the CSV sink prints 3 decimals; a group with no base rows has
            # no ratio on either side
            close = (m["Ratio"] - m["Ratio_got"]).abs() <= 1e-3 + 1e-9
            bad = m[~(close | (m["Ratio"].isna() & m["Ratio_got"].isna()))]
            if len(bad):
                return f"{len(bad)} ratios differ, e.g. {bad.iloc[0].to_dict()}"
            if len(texts) != len(ARCHES) or html.count("<table") != len(ARCHES):
                return f"{len(texts)} pivot tables, expected {len(ARCHES)}"
            for t in texts:
                if not all(f in t for f in funcs) or "Goal" not in t:
                    return "a pivot table lacks a function or the goal column"
            return None

        ops.append(Op(f"recipe_logs:{suite}", build, action, check))
    return ops


def _parquet_writer(out_dir: str):
    """Action writing the result to a fresh parquet directory, which the
    check reads back instead of re-running the plan."""

    def action(df):
        dest = os.path.join(out_dir, f"op{next(_SEQ)}")
        df.write.parquet(dest)
        return dest

    return action


# ---------------------------------------------------------------------------
# agg_sweep
# ---------------------------------------------------------------------------

_DUCK_AGG = {
    "mean": "avg(value)",
    "mean_exact": "CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) / count(value)",
    "median": "median(value)",
}


def _duck_compare(expected_sql: str, out_dir: str, keys: list[str], value: str) -> str | None:
    import duckdb

    con = duckdb.connect()
    try:
        exp = con.sql(expected_sql).df()
        got = con.sql(
            f"SELECT {', '.join(keys)}, {value} FROM read_parquet('{out_dir}/*.parquet')"
        ).df()
    finally:
        con.close()
    if len(exp) != len(got):
        return f"{len(got)} groups, expected {len(exp)}"
    m = exp.merge(got, on=keys, how="left", suffixes=("", "_got"))
    diff = (m[value] - m[value + "_got"]).abs()
    bad = m[~(diff <= 1e-9 * m[value].abs() + 1e-12)]
    if len(bad):
        return f"{len(bad)} of {len(m)} groups differ, e.g. {bad.iloc[0].to_dict()}"
    return None


def agg_ops(ctx, root: str, out_dir: str) -> list[Op]:
    from bearysta_spark.engine import RecipeEngine

    src = f"read_parquet('{root}/*.parquet')"
    recipes = []
    for func, key in AGG_OPS:
        recipe = {
            "input": {"path": f"{root}/*.parquet", "format": "parquet"},
            "aggregation": func,
            "axis": [key],
            "values": ["value"],
        }
        sql = f"SELECT {key}, {_DUCK_AGG[func]} AS value FROM {src} GROUP BY {key}"
        recipes.append((f"agg_sweep:{func}:{key}", recipe, sql, [key], "value"))
    ratio = {
        "input": {"path": f"{root}/*.parquet", "format": "parquet"},
        "precomputed": {"Ratio": "ratio_of('value', impl='base')"},
        "aggregation": "mean",
        "series": ["impl"],
        "axis": ["low"],
        "values": ["Ratio"],
    }
    ratio_sql = f"""
        WITH g AS (SELECT low, impl, avg(value) AS m FROM {src} GROUP BY low, impl)
        SELECT g.impl, g.low, g.m / b.m AS Ratio
        FROM g JOIN (SELECT low, m FROM g WHERE impl = 'base') b USING (low)
    """
    recipes.append(("agg_sweep:ratio_of:low", ratio, ratio_sql, ["impl", "low"], "Ratio"))

    ops = []
    for name, recipe, sql, keys, value in recipes:

        def build(recipe=recipe):
            return RecipeEngine(ctx.spark, recipe).aggregated()

        def check(dest, sql=sql, keys=keys, value=value):
            return _duck_compare(sql, dest, keys, value)

        ops.append(Op(name, build, _parquet_writer(out_dir), check))
    return ops


# ---------------------------------------------------------------------------
# query_fleet
# ---------------------------------------------------------------------------


def read_result(dest: str) -> tuple[list[str], list[tuple]]:
    """Column names and rows of a parquet result directory."""
    import pyarrow.parquet as pq

    t = pq.read_table(dest)
    return t.column_names, list(zip(*(c.to_pylist() for c in t.columns)))


def _sort_key(row: tuple) -> str:
    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        return v.isoformat() if hasattr(v, "isoformat") else v

    return repr([norm(v) for v in row])


def _same(a, b) -> bool:
    """Equal values; floats up to a few ulps of summation order."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-15)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(cols: list[str], rows: list[tuple], ocols: list[str], orows: list[tuple]):
    """None if the result has the oracle's columns and, in any order, its
    rows; else a one-line reason."""
    if sorted(cols) != sorted(ocols):
        return f"columns {cols}, oracle {ocols}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows, oracle {len(orows)}"
    idx = [ocols.index(c) for c in cols]
    orows = [tuple(r[i] for i in idx) for r in orows]
    for got, exp in zip(sorted(rows, key=_sort_key), sorted(orows, key=_sort_key)):
        if not _same(got, exp):
            return f"row {got!r:.120}, oracle {exp!r:.120}"
    return None


def fleet_ops(ctx, root: str, out_dir: str) -> list[Op]:
    """One op per fleet query; each output is checked against the query's
    DuckDB oracle (`queries.ORACLE`) over the same parquet files."""
    from bearysta_spark.queries import ORACLE, QUERIES

    oracle: dict[str, tuple[list[str], list[tuple]]] = {}

    def oracle_rows(q):
        if q not in oracle:
            import duckdb

            con = duckdb.connect()
            try:
                for t in ("documents", "embeddings"):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{root}/{t}.parquet'")
                rel = con.sql(ORACLE[q])
                oracle[q] = (rel.columns, rel.fetchall())
            finally:
                con.close()
        return oracle[q]

    ops = []
    for q in FLEET:

        def build(q=q):
            return QUERIES[q](ctx.spark, root)

        def check(dest, q=q):
            return compare_rows(*read_result(dest), *oracle_rows(q))

        ops.append(Op(f"query_fleet:{q}", build, _parquet_writer(out_dir), check))
    return ops


def make_ops(workload: str, ctx, data: str, out_dir: str, profile: str) -> list[Op]:
    """The workload's fixed op set over the generated inputs under `data`."""
    if workload == "recipe_logs":
        return recipe_ops(ctx, data, out_dir, SIZES[profile]["recipe_logs"]["suites"])
    if workload == "agg_sweep":
        return agg_ops(ctx, data, out_dir)
    return fleet_ops(ctx, data, out_dir)


def make_warm_op(workload: str, ctx, data: str, out_dir: str) -> Op:
    """The set-up op over the small inputs under `data`: the fleet's
    cheapest query, else the first agg_sweep recipe (a suite DAG even on
    a tiny tree costs about as much as a timed op)."""
    if workload != "query_fleet":
        return agg_ops(ctx, data, out_dir)[0]
    return [op for op in fleet_ops(ctx, data, out_dir) if op.name.endswith(FLEET_WARM)][0]
