"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files. Each also returns the logical
rows it encoded, so the correctness checks recompute the expected
answer from the generator's own rows instead of from the program's
output.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# recipe_logs: runner-output trees (runs/<id>/<suite>/<arch>_<env>/<ts>_<format>.out)
# ---------------------------------------------------------------------------

ARCHES = ("skx", "icx")
BASE_PREFIX = "stock"
PREFIXES = (BASE_PREFIX, "intel", "numba")
FUNCTIONS = {
    "sklearn": ("KMeans.fit", "PCA.fit", "Ridge.fit", "SVC.predict", "DBSCAN.fit"),
    "omnisci": ("q1", "q2", "q3", "q4", "q5"),
}
SIZES = (1000, 4000, 16000)
ROWS_PER_FILE = 6


def _value(rng: np.random.Generator, prefix: str, fi: int, size: int) -> float:
    # positive timings: per-prefix speed-up over the base with noise,
    # rounded to what the log formats print (3 decimals)
    speed = {"stock": 1.0, "intel": 2.0 + 0.5 * fi, "numba": 1.3 + 0.2 * fi}[prefix]
    return round(float(size) / 1000.0 * (1.0 + fi) / speed * rng.uniform(0.8, 1.2), 3)


def _format_lines(fmt: str, rng: np.random.Generator, rows: list[tuple]) -> list[str]:
    """Encode one file's logical rows in a log format: FIXTURES A1
    (headered CSV with noise lines) or A9 (multi-line log records, some
    wrapped, read with an injected header, regex capture groups and
    `append`, which also covers A2 and A3)."""
    out: list[str] = []
    if fmt == "sklearn":
        out.append("@ Package 'daal4py' was not found. Number of threads is being ignored")
        out.append("prefix,function,size,threads,time")
        for i, (prefix, func, size, t) in enumerate(rows):
            # a fixed Serial/4 pattern: the first value of a column decides
            # how many jobs numeric inference runs, so it must not vary
            # with the seed
            out.append(f"{prefix},{func},{size}x50,{'4' if i % 2 else 'Serial'},{t}")
            if rng.random() < 0.3:
                out.append("WARNING: Number of actual iterations (300) reached max_iter")
        out.append("")
    elif fmt == "omnisci":
        out.append("I 2024-01-01T00:00:00 stdlog session_start 0 ok")
        for prefix, func, size, t in rows:
            head = f"I 2024 stdlog sql_execute {func} {prefix} {size}"
            tail = f',"{t}","{round(t * 1.25, 3)}"}}'
            if rng.random() < 0.4:  # wrapped record: needs `append`
                out.append(head)
                out.append("+ " + tail)
            else:
                out.append(f"{head} {tail}")
            if rng.random() < 0.2:
                out.append("I 2024 stdlog heartbeat")
    else:
        raise ValueError(fmt)
    return out


# per-format raw-layer input spec: (csv-header, line filter); the column
# names the raw recipe reads are Prefix, Function, Size and Time
RAW_INPUT = {
    "sklearn": (
        None,
        {"^@": "drop", "^WARNING": "drop", "": None},
    ),
    "omnisci": (
        "Function,Prefix,Size,Time,Total",
        {
            r"^\+": "append",
            r"^.+ stdlog sql_execute (\S+) (\S+) ([0-9]+) .*,\"([0-9.]+)\",\"([0-9.]+)\"\}": r"\1,\2,\3,\4,\5",
            "^(?!q[0-9])": "drop",
        },
    ),
}

# the columns each format names differently are renamed to the shared ones
RAW_RENAME = {
    "sklearn": {"prefix": "Prefix", "function": "Function", "time": "Time", "size": "SizeSpec"},
    "omnisci": {},
}


def gen_recipe_logs(root: str, seed: int, suites: dict[str, dict[str, int]]) -> pd.DataFrame:
    """Write runner-output trees: `suites` maps a suite name to the log
    formats it covers and each format's file count. Every log file gets
    a `.meta` sidecar; every suite gets a goal-targets CSV. Returns the
    logical rows (suite, Arch, Prefix, Function, Size, Time)."""
    rng = np.random.default_rng(seed)
    logical = []
    for suite, formats in suites.items():
        for fmt, n_files in formats.items():
            funcs = FUNCTIONS[fmt]
            for k in range(n_files):
                run_id = f"run{k % 5:02d}"
                arch = ARCHES[k % len(ARCHES)]
                env = PREFIXES[(k // len(ARCHES)) % len(PREFIXES)]
                d = os.path.join(root, "runs", run_id, suite, f"{arch}_{env}")
                os.makedirs(d, exist_ok=True)
                rows = []
                for _ in range(ROWS_PER_FILE):
                    fi = int(rng.integers(len(funcs)))
                    size = SIZES[int(rng.integers(len(SIZES)))]
                    rows.append((env, funcs[fi], size, _value(rng, env, fi, size)))
                path = os.path.join(d, f"{20240101000000 + k}_{fmt}.out")
                with open(path, "w") as f:
                    f.write("\n".join(_format_lines(fmt, rng, rows)) + "\n")
                with open(path + ".meta", "w") as f:
                    f.write(f"env_name: {env}\nhostname: host{k % 3}\noutprefix: {run_id}\n")
                logical += [(suite, arch, *r) for r in rows]
        targets = [
            (func, 1.5 + 0.1 * i, "Goal", arch)
            for fmt in formats
            for i, func in enumerate(FUNCTIONS[fmt])
            for arch in ARCHES
        ]
        pd.DataFrame(targets, columns=["Function", "Ratio", "Prefix", "Arch"]).to_csv(
            os.path.join(root, f"targets_{suite}.csv"), index=False
        )
    return pd.DataFrame(logical, columns=["suite", "Arch", "Prefix", "Function", "Size", "Time"])


def expected_summary(rows: pd.DataFrame, targets: pd.DataFrame) -> pd.DataFrame:
    """The suite DAG recomputed in pandas: per (Function, Size, Arch) the
    speed-up of each prefix over the base prefix's median time, base
    rows dropped, then the geometric mean per (Prefix, Function, Arch)
    over the surviving rows, unioned with the suite's goal rows."""
    keys = ["Function", "Size", "Arch"]
    grp = rows.groupby(keys + ["Prefix"], as_index=False)["Time"].median()
    base = grp[grp["Prefix"] == BASE_PREFIX][keys + ["Time"]].rename(columns={"Time": "Base"})
    grp = grp.merge(base, on=keys, how="left")
    grp["Ratio"] = grp["Base"] / grp["Time"]
    ind = rows.merge(grp[keys + ["Prefix", "Ratio"]], on=keys + ["Prefix"], how="left")
    ind = ind[ind["Prefix"] != BASE_PREFIX]
    allrows = pd.concat([ind[["Prefix", "Function", "Arch", "Ratio"]], targets], ignore_index=True)
    allrows["logr"] = np.log(allrows["Ratio"])
    out = allrows.groupby(["Prefix", "Function", "Arch"], as_index=False)["logr"].mean()
    out["Ratio"] = np.exp(out["logr"])
    return out.drop(columns="logr")


# ---------------------------------------------------------------------------
# agg_sweep: a few parquet files with low-, high- and Zipf-keyed rows
# ---------------------------------------------------------------------------


def gen_agg_sweep(root: str, seed: int, n_rows: int, n_files: int, n_high: int) -> list[str]:
    """Write `n_files` parquet files holding `n_rows` rows:
    `low` (16 distinct keys, uniform), `high` (`n_high` distinct keys,
    uniform), `skew` (Zipf a=1.3 over 100k ranks, so the hottest key
    holds roughly a quarter of the rows), `impl` (ratio series with base
    'base') and a positive double `value`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    per = n_rows // n_files
    paths = []
    for i in range(n_files):
        low = rng.integers(0, 16, per)
        high = rng.integers(0, n_high, per)
        skew = np.minimum(rng.zipf(1.3, per), 100_000)
        impl = rng.integers(0, 3, per)
        value = np.round(rng.lognormal(0.0, 0.5, per) * (1.0 + low), 6)
        table = pa.table(
            {
                "low": pa.array(np.char.add("g", low.astype(str))),
                "high": pa.array(np.char.add("h", high.astype(str))),
                "skew": pa.array(np.char.add("z", skew.astype(str))),
                "impl": pa.array(np.array(["base", "opt1", "opt2"])[impl]),
                "value": pa.array(value),
            }
        )
        p = os.path.join(root, f"part-{i:03d}.parquet")
        pq.write_table(table, p)
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# query_fleet: documents and embeddings tables in the test-data schema
# ---------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")


def gen_fleet(root: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write documents.parquet and embeddings.parquet with the test-data
    schema: documents are 10-100 words of a 30-word vocabulary with 5% of
    them planted near-duplicates (another document's text plus ' dup');
    embeddings are unit-norm 64-d float vectors with labels 0-9."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 101))).tolist())
        for _ in range(n_docs)
    ]
    n_dup = n_docs // 20
    targets = rng.choice(n_docs, n_dup, replace=False)
    sources = rng.integers(0, n_docs, n_dup)
    for t, s in zip(targets.tolist(), sources.tolist()):
        if t != s:
            texts[t] = texts[s] + " dup"
    langs = rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(docs, os.path.join(root, "documents.parquet"))

    v = rng.standard_normal((n_vecs, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))


def main(argv: list[str]) -> None:
    """gen.py WORKLOAD ROOT SEED SIZES_JSON: write one workload's inputs
    under ROOT/main and the set-up op's small input under ROOT/warm."""
    import json

    workload, root, seed, sizes = argv[0], argv[1], int(argv[2]), json.loads(argv[3])
    warm = os.path.join(root, "warm")
    if workload == "recipe_logs":
        rows = gen_recipe_logs(os.path.join(root, "main"), seed, sizes["suites"])
        rows.to_csv(os.path.join(root, "main", "logical.csv"), index=False)
    if workload == "agg_sweep":
        gen_agg_sweep(os.path.join(root, "main"), seed, sizes["rows"], sizes["files"], sizes["high"])
    if workload in ("recipe_logs", "agg_sweep"):
        gen_agg_sweep(warm, seed + 1, sizes["warm_rows"], 1, sizes["warm_rows"] // 10)
    if workload == "query_fleet":
        gen_fleet(os.path.join(root, "main"), seed, sizes["docs"], sizes["vecs"])
        gen_fleet(warm, seed, sizes["warm_docs"], sizes["warm_vecs"])


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
