"""Registry-level invariants: the driver-contract surface must stay sane."""

from __future__ import annotations

import os
import re

import pytest

from data_integration_exercise_spark.io import stage_dir
from data_integration_exercise_spark.registry import oracle_sql, queries
from data_integration_exercise_spark.schemas import TABLES

from .conftest import SF_SMOKE

ROWS_ONLY_ALLOWED = {
    # approximate or trigger-dependent by design (SURVEY §2 / §8)
    "agg_approx_distinct",
    "agg_hll_sketch_merge",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "stream_watermark_late",
    "stream_foreachbatch",
}


def test_every_oracle_has_a_query():
    assert set(oracle_sql()) <= set(queries())


def test_rows_only_set_is_closed():
    """No query silently loses its oracle: the rows-only set is exactly the
    documented approximate/trigger-dependent ops."""
    assert set(queries()) - set(oracle_sql()) == ROWS_ONLY_ALLOWED


def test_keys_are_well_formed():
    assert all(re.fullmatch(r"[a-z0-9_]+", k) for k in queries())


def test_oracles_reference_known_tables():
    """Every oracle reads at least one pre-registered view (guards against
    typo'd table names the driver's DuckDB would reject)."""
    for k, sql in oracle_sql().items():
        assert any(
            re.search(rf"\b{t}\b", sql) for t in TABLES
        ), f"{k}: oracle references no known table"


def test_no_hugeint_typed_oracle_output_columns():
    """DESCRIBE every oracle through DuckDB at sf0.001 and reject any
    HUGEINT/UBIGINT-typed OUTPUT column. DuckDB types integer sums (and any
    division with a HUGEINT operand) as HUGEINT, which duckdb-pandas fetches
    as float64 while Spark returns int64 — the driver's dtype-sensitive hash
    then splits on identical values (130277 vs 130277.0). This exact class
    caused the repo's only driver hash failure ever (`agg_calibration_ece`,
    r10: the `// sum(n)` denominator lacked the CAST the numerator had).
    The fix discipline: CAST every integer sum/product that reaches an
    output column (or feeds a division) AS BIGINT. ~2 s, no Spark needed."""
    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    offenders = []
    for k, sql in oracle_sql().items():
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        for col, typ, *_ in desc:
            if "HUGEINT" in typ.upper() or "UBIGINT" in typ.upper():
                offenders.append((k, col, typ))
    assert not offenders, (
        "oracle output columns DuckDB types wider than BIGINT (pandas will "
        f"fetch these as float64 and the driver hash will split): {offenders}"
    )


def test_spark_and_oracle_dtype_kinds_agree(registry_built):
    """Static cross-engine dtype-kind check (no data execution): for every
    hash-oracled key, Spark's LAZY result schema and DuckDB's DESCRIBE of
    the oracle must agree per column on the int-vs-float axis. The driver
    fetches both sides into pandas and hashes stringified values per dtype,
    so a BIGINT-vs-DOUBLE split fails its hash even when every value is
    numerically identical (the r10 `agg_calibration_ece` failure mode).
    The HUGEINT lint above catches the DuckDB-widening subclass; this test
    catches the whole class — including a Spark-side double against an
    integer oracle — in one schema-only sweep over the shared
    ``registry_built`` frames."""
    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    int_spark = {"byte", "short", "integer", "long"}
    float_spark = {"float", "double"}

    def spark_kind(dt):
        n = dt.typeName()
        return "i" if n in int_spark else "f" if n in float_spark else "o"

    def duck_kind(t):
        t = t.upper()
        if any(x in t for x in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                                "HUGEINT", "UBIGINT", "UINTEGER")):
            return "i"
        if any(x in t for x in ("FLOAT", "DOUBLE", "REAL")):
            return "f"
        return "o"

    mismatched = []
    for k, sql in oracle_sql().items():
        schema = registry_built[k][0]
        sp = {f.name: spark_kind(f.dataType) for f in schema.fields}
        du = {c: duck_kind(t) for c, t, *_ in con.execute(f"DESCRIBE {sql}").fetchall()}
        for c in sp:
            if c in du and {sp[c], du[c]} == {"i", "f"}:
                mismatched.append((k, c, f"spark={sp[c]}", f"duck={du[c]}"))
    assert not mismatched, (
        "int-vs-float dtype splits the driver hash would fail on: "
        f"{mismatched}"
    )


@pytest.mark.parametrize(
    "key, stage",
    [
        ("sink_orc", "sink_orc"),
        ("etl_partition_backfill_plan", "etl_partition_backfill"),
        ("stream_cdc_upsert", "events_stream_4"),
    ],
)
def test_immutable_input_copies_are_staged_once(spark, key, stage):
    """io.stage_once: a second call of a key in the same process reuses the
    copy of its input the first call staged — no file under it is
    rewritten, added or removed."""

    def files():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(stage_dir(SF_SMOKE, stage))
            for f in fs
        }

    queries()[key](spark, SF_SMOKE).collect()
    first = files()
    assert first
    queries()[key](spark, SF_SMOKE).collect()
    assert files() == first


def test_no_unrounded_float_aggregates_in_oracles():
    """Float-hash discipline: any avg(/stddev/corr/covar) in an oracle must
    sit inside a round() — raw float aggregates are summation-order traps."""
    for k, sql in oracle_sql().items():
        for m in re.finditer(r"(?<!_)(avg|stddev_samp|var_samp|corr|covar_samp)\(", sql):
            prefix = sql[: m.start()]
            # crude but effective: a round( must be open at this point
            assert prefix.count("round(") > prefix.count(")") - prefix.count("("), (
                f"{k}: unrounded float aggregate near …{sql[m.start():m.start() + 40]!r}"
            )


def test_queries_count_matches_survey_addendum():
    """SURVEY §8 documents the registry totals; keep them in sync."""
    survey = open("/root/repo/SURVEY.md").read()
    m = re.search(r"Registry totals: \*\*(\d+) queries, (\d+) hash-oracled\*\*", survey)
    assert m, "SURVEY §8 registry-totals line missing"
    assert (int(m.group(1)), int(m.group(2))) == (len(queries()), len(oracle_sql()))


def test_every_registered_key_documented_in_survey():
    """Every registered key must have its own backticked mention in
    SURVEY.md (§2 inventory or a §8+ addendum row) — the totals-only check
    above let `win_kalman_filter` land undocumented in the round-7 snapshot
    commit (VERDICT r7 "What's wrong" #1). A bare matching total is not
    documentation; this fails on the first undocumented key."""
    survey = open("/root/repo/SURVEY.md").read()
    undocumented = [k for k in queries() if f"`{k}`" not in survey]
    assert not undocumented, (
        "registered keys missing a SURVEY.md row/mention (add a §8-style "
        f"table row in the same commit that registers them): {undocumented}"
    )


def _spelled_outside(home: str | None, spellings: dict) -> list:
    """``module: what`` for every package module but functions/``home``
    (every module if ``home`` is None) whose source matches a pattern of
    ``spellings``."""
    import data_integration_exercise_spark as pkg

    root = os.path.dirname(pkg.__file__)
    home = home and os.path.join(root, "functions", home)
    found = []
    for d, _, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            if not n.endswith(".py") or path == home:
                continue
            src = open(path).read()
            found += [
                f"{os.path.relpath(path, root)}: {what}"
                for what, pat in spellings.items()
                if pat.search(src)
            ]
    return found


def test_vector_geometry_is_spelled_only_in_vectors_module():
    """The squared-L2 fold and the Lloyd seed head are written once, in
    functions/vectors.py: a second spelling could drift from the trainer
    the oracles replay (a different seed order or tie-break forks every
    later centroid)."""
    spellings = {
        "squared-L2 lambda": re.compile(re.escape("(a - b) * (a - b)")),
        "md5-ordered LIMIT 8 seed head": re.compile(
            r"ORDER BY \{md5_order_duck\([^)]*\)\}\s+LIMIT 8\b"
        ),
    }
    found = _spelled_outside("vectors.py", spellings)
    assert not found, found


def test_set_similarity_is_spelled_only_in_sets_module():
    """The DuckDB set intersection and token set, the array intersection,
    the token-mask AND and the MinHash permutation term are written once,
    in functions/sets.py: a second
    spelling could drift from the encoding or the packing the oracles
    replay, and a size-bound or prefix filter added to the one Jaccard
    would miss the copy."""
    spellings = {
        "DuckDB list_intersect": re.compile(re.escape("list_intersect(")),
        "DuckDB token set": re.compile(
            re.escape("list_distinct(string_split(text, ' '))")
        ),
        "Column array_intersect": re.compile(re.escape("array_intersect(")),
        "Column bitwiseAND": re.compile(re.escape("bitwiseAND(")),
        "MinHash (a*x + b) % M term": re.compile(
            r"\(\{?a\}? \* \{?\w+\}? \+ \{?b\}?\) ?%"
        ),
    }
    found = _spelled_outside("sets.py", spellings)
    assert not found, found


def test_cents_are_spelled_only_in_encode_module():
    """Money becomes integer cents, ``round(x * 100)`` cast to a 64-bit
    integer, and embeddings become milli-units, ``floor(v * 1000 + 0.5)``,
    only in functions/encode.py: the oracles hash and sum these integers,
    so a second spelling that drifted (another rounding, another cast)
    would fork every digest built on it."""
    spellings = {
        "SQL cents round(x * 100)": re.compile(r"round\(\w[\w.]* \* 100\)"),
        "Column cents F.round(F.col(x) * 100)": re.compile(
            r'F\.round\(F\.col\("\w+"\) \* 100\)'
        ),
        "milli * 1000 + 0.5": re.compile(re.escape("* 1000 + 0.5")),
    }
    found = _spelled_outside("encode.py", spellings)
    assert not found, found


def test_staged_reads_pass_a_schema():
    """Every parquet read in the package names its schema, spelled
    ``.read.schema(...).parquet(``: a read without one infers the schema
    from the files' footers with a Spark job per call, and a staged output
    always has the schema of the frame that wrote it."""
    found = _spelled_outside(
        None, {"unpinned read": re.compile(re.escape(".read.parquet("))}
    )
    assert not found, found
