#!/usr/bin/env python
"""Neutral-session driver-contract emulation (the /verify recipe).

Replicates the grading driver's correctness pass: load __spark_entry__.py
from a PLAIN SparkSession (no repo configs — catches missing defensive
spark.conf.set calls), run every queries() key at sf0.01, and compare each
against its oracle_sql() through DuckDB with the driver's canonicalization
(sort columns by name, stringify, sort rows). Rows-only keys (no oracle)
just need a sane row count.

Usage:
    python tools/emulate_driver.py            # full registry (~8 min)
    python tools/emulate_driver.py key1 key2  # spot-check a diff's keys
    EMULATE_SF_DIR=/root/testdata/sf0.001 python tools/emulate_driver.py
    EMULATE_SF_DIR=/root/testdata/sf0.1   python tools/emulate_driver.py

Run it from a NEUTRAL cwd (e.g. /tmp) so repo-relative assumptions can't
hide. Exit code 0 iff every key is clean.

The multi-scale passes are part of the round ritual since round 7: the
driver only ever checks sf0.01, and each of the other two scales caught
real landmines on first run — sf0.001 exposed a zero-variance ANSI
divide-by-zero inside corr(), sf0.1 exposed per-execution
repartitionByRange boundary resampling and an IEEE −0.0 hash split.
(sf0.1 takes ~50 min; the O(n²)-oracle keys dominate.)
"""

import importlib.util
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from data_integration_exercise_spark.schemas import TABLES  # noqa: E402

SF = os.environ.get("EMULATE_SF_DIR", "/root/testdata/sf0.01")


def duck_con(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``.

    In-memory DuckDB disables out-of-core spilling by default (no temp
    directory), so a heavy oracle late in a 384-key sweep can hit a hard
    OutOfMemoryException that the same key in isolation never sees
    (observed: graph_clustering_coefficient at sf0.1, green alone at
    163 s, OOM in the full sweep). Each connection gets its own spill
    directory under a PID-keyed parent: spill filenames are not unique
    across DuckDB instances, so neither concurrent processes (parallel
    pytest, a sweep alongside tests) nor concurrent connections in one
    process may share one. The atexit sweep removes this process's parent
    even after an OOM-killed oracle stranded multi-GB spill files in it.
    """
    import atexit
    import shutil
    import tempfile

    import duckdb

    con = duckdb.connect()
    parent = f"/tmp/duck_spill/p{os.getpid()}"
    os.makedirs(parent, exist_ok=True)
    spill = tempfile.mkdtemp(dir=parent)
    con.execute(f"SET temp_directory = '{spill}'")
    atexit.register(shutil.rmtree, parent, ignore_errors=True)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df):
    """Stringify a frame for comparison, normalizing representation noise
    between Spark- and DuckDB-produced pandas frames: float columns format
    via %.12g (so int64 1 vs float64 1.0 agree once either side is float)
    and missing values (None / NaN / NaT) collapse to one token. Non-float
    columns keep pandas ``astype(str)`` semantics — per-element ``str()``
    would lose pandas' smart datetime formatting (a midnight datetime64
    prints '2024-01-01' under astype(str) but '2024-01-01 00:00:00' under
    str(), false-mismatching every date column against Spark's
    datetime.date objects). ADVICE r6 item 4.
    """
    import pandas as pd

    _NULLS = {"None", "NaN", "NaT", "<NA>", "nan"}
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.map(lambda v: "<NULL>" if pd.isna(v) else format(v, ".12g"))
        else:
            out[c] = s.astype(str).map(lambda v: "<NULL>" if v in _NULLS else v)
    return pd.DataFrame(out)


def _dtype_kind_mismatches(spdf, ddf):
    """Columns where one engine returned an integer dtype and the other a
    float dtype. The driver's value hash stringifies per-dtype, so int64
    130277 vs float64 130277.0 is a hash FAIL there even though ``_canon``
    above would call the values equal — the r10 ``agg_calibration_ece``
    miss (VERDICT r10 item 2: the emulator must never be more lenient than
    the driver). Only the int-vs-float axis is checked: int32-vs-int64 is
    representation noise both harnesses tolerate, and object columns
    (strings, dates, decimals) keep their existing string comparison.
    """
    import pandas as pd

    def kind(s):
        if pd.api.types.is_float_dtype(s):
            return "f"
        if pd.api.types.is_integer_dtype(s):
            return "i"
        return "other"

    return [
        c
        for c in spdf.columns
        if {kind(spdf[c]), kind(ddf[c])} == {"i", "f"}
    ]


def main() -> int:
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master(
        f"local[{os.environ.get('EMULATE_CPUS', '8')}]"
    ).getOrCreate()
    print("entry rows:", len(mod.entry(spark).collect()), flush=True)

    con = duck_con(SF)
    qs, osql = mod.queries(), mod.oracle_sql()
    keys = sys.argv[1:] or list(qs)
    unknown = [k for k in keys if k not in qs]
    if unknown:
        print("UNKNOWN keys (not in queries()):", unknown, flush=True)
        keys = [k for k in keys if k in qs]
    bad = list(unknown)
    for k in keys:
        t0 = time.time()
        try:
            spdf = qs[k](spark, SF).toPandas()
        except Exception as e:
            print(k, "ERROR:", repr(e)[:200], flush=True)
            bad.append(k)
            continue
        if k not in osql:
            print(k, "rows-only:", len(spdf), f"{time.time() - t0:.1f}s", flush=True)
            if len(spdf) <= 0:
                bad.append(k)
            continue
        try:
            ddf = con.execute(osql[k]).df()
        except Exception as e:
            print(k, "ORACLE-ERROR:", repr(e)[:200], flush=True)
            bad.append(k)
            continue
        cols = sorted(spdf.columns)
        try:
            sa = spdf.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
            da = ddf.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
            kind_bad = _dtype_kind_mismatches(sa, da)
            if kind_bad:
                print(k, "DTYPE-KIND mismatch (int vs float):", kind_bad, flush=True)
            ok = (
                not kind_bad
                and sa.shape == da.shape
                and (_canon(sa).values == _canon(da).values).all()
            )
        except Exception as e:
            print(k, "COMPARE-ERROR:", repr(e)[:200], flush=True)
            bad.append(k)
            continue
        print(k, "match:", ok, f"{time.time() - t0:.1f}s", flush=True)
        if not ok:
            bad.append(k)
    print(f"SUMMARY: total={len(keys) + len(unknown)} bad={len(bad)} {bad}", flush=True)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
