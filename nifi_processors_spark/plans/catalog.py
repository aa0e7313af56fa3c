"""Test-data catalog + the two-dialect SQL templating used to keep the
Spark queries and their DuckDB oracles semantically identical.

Every query in ``__spark_entry__.queries()`` has an oracle in
``oracle_sql()``; where a computation involves engine-specific builtin
names (string cast, md5→int, list ops, epoch micros), both sides are
rendered from ONE template with per-dialect substitutions so the
semantics cannot drift.
"""

from __future__ import annotations

import atexit
import hashlib
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_SCRATCH_ROOT: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A fresh dir for a query's temp tables under this process's one
    ``nps-*`` scratch root, removed at exit (the queries return lazy
    frames over these tables, so they cannot clean up on return)."""
    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="nps-")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT.append(root)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[0])


#: dialect substitutions: {key: (spark_form, duckdb_form)}
_DIALECT = {
    # type name for string casts
    "STR": ("string", "varchar"),
    # deterministic 32-bit unsigned int from md5 of a string expr
    "MD5INT": (
        "cast(conv(substring(md5({0}),1,8),16,10) as bigint)",
        "cast(('0x' || substring(md5({0}),1,8)) as bigint)",
    ),
    # second 32-bit word of the md5 (an independent hash)
    "MD5INT2": (
        "cast(conv(substring(md5({0}),9,8),16,10) as bigint)",
        "cast(('0x' || substring(md5({0}),9,8)) as bigint)",
    ),
    # timestamp → epoch microseconds (bigint)
    "TS_US": ("unix_micros({0})", "epoch_us({0})"),
    # count of single-space-separated tokens
    "NTOK": ("size(split({0}, ' '))", "len(string_split({0}, ' '))"),
    # count of regex matches
    "NRE": (
        "size(regexp_extract_all({0}, {1}, 0))",
        "len(regexp_extract_all({0}, {1}))",
    ),
    # array of regex matches
    "REALL": (
        "regexp_extract_all({0}, {1}, 0)",
        "regexp_extract_all({0}, {1})",
    ),
    # count of whole-word occurrences (regex \b word \b)
    "NWORD": (
        "size(regexp_extract_all({0}, '\\\\b{1}\\\\b', 0))",
        "len(regexp_extract_all({0}, '\\b{1}\\b'))",
    ),
    # explode/unnest an array column into rows
    "EXPLODE": ("explode({0})", "unnest({0})"),
    # OUTER explode for COMPUTED arrays (shingles etc.), paired with a
    # downstream IS NOT NULL. Plain explode triggers Spark's
    # InferFiltersFromGenerate, which pushes a `size(arr) > 0` filter
    # below the Generate with the array expression INLINED — for a
    # transform() whose lambda re-derives its input per element (e.g.
    # SHINGLES3 over split()) that filter re-evaluates split() once
    # per element_at, turning a linear scan quadratic per document
    # (measured 12x on sf0.1 MinHash). explode_outer is exempt from
    # the rule; DuckDB's unnest never had the problem.
    "EXPLODEO": ("explode_outer({0})", "unnest({0})"),
    # array length / split on single space
    "LEN": ("size({0})", "len({0})"),
    "SPLITSP": ("split({0}, ' ')", "string_split({0}, ' ')"),
    # lambda transform over an array (lambda syntax is shared)
    "XF": ("transform({0}, {1})", "list_transform({0}, {1})"),
    "AMIN": ("array_min({0})", "list_min({0})"),
    # word 3-gram shingles from a token array (1-based in both forms)
    "SHINGLES3": (
        "transform(sequence(1, size({0}) - 2), i -> concat("
        "element_at({0}, i), ' ', element_at({0}, i + 1), ' ', "
        "element_at({0}, i + 2)))",
        "list_transform(generate_series(1, len({0}) - 2), i -> "
        "{0}[i] || ' ' || {0}[i + 1] || ' ' || {0}[i + 2])",
    ),
    # double-precision dot product of two numeric arrays (sequential)
    "DOT": (
        "aggregate(zip_with({0}, {1}, (x, y) -> cast(x as double) * "
        "cast(y as double)), cast(0.0 as double), (a, x) -> a + x)",
        "list_dot_product(({0})::DOUBLE[], ({1})::DOUBLE[])",
    ),
    # bit shift right
    "SHR": ("shiftright({0}, {1})", "({0} >> {1})"),
    # bitwise xor / population count
    "XOR": ("({0} ^ {1})", "xor({0}, {1})"),
    "POPCNT": ("bit_count({0})", "bit_count({0})"),
    # JSON string key extraction
    "JSONK": (
        "get_json_object({0}, '$.{1}')",
        "json_extract_string({0}, '$.{1}')",
    ),
    # integer sum pinned to BIGINT: DuckDB's sum() over integers
    # returns HUGEINT (int128) which the driver's type-sensitive value
    # hash rejects; Spark's returns BIGINT. Casting on both sides keeps
    # the one-template invariant AND the cross-engine type identity.
    "BSUM": ("cast(sum({0}) AS bigint)", "cast(sum({0}) AS bigint)"),
    # integer division (both truncate/floor the same for positives)
    "IDIV": ("({0} div {1})", "({0} // {1})"),
    # integer range array, inclusive
    "SEQ": ("sequence({0}, {1})", "generate_series({0}, {1})"),
}


def render(template: str, dialect: str) -> str:
    """Render a two-dialect SQL template. Placeholders look like
    ``@MD5INT(expr)@`` / ``@STR@`` and expand per dialect."""
    idx = 0 if dialect == "spark" else 1
    out = template
    # function-style placeholders: @NAME(arg1; arg2)@  (';' separates
    # args). Placeholders nest; the arg pattern excludes '@' so each
    # pass rewrites the innermost ones — iterate to a fixpoint.
    import re

    def sub_fn(m):
        name, args = m.group(1), m.group(2)
        parts = [a.strip() for a in args.split(";")]
        return _DIALECT[name][idx].format(*parts)

    prev = None
    while prev != out:
        prev = out
        out = re.sub(r"@([A-Z0-9_]+)\(([^@]*?)\)@", sub_fn, out)
        out = re.sub(r"@([A-Z0-9_]+)@", lambda m: _DIALECT[m.group(1)][idx], out)
    return out


def load_tables(spark: SparkSession, sf_dir: str, names=None) -> dict[str, DataFrame]:
    """Register the driver-provided parquet tables as temp views and
    return them. Parquet scans get Catalyst pushdown/pruning for free.

    Session hygiene: the caller may hand us ANY SparkSession (the
    driver's verify harness builds its own), so the confs our queries
    depend on — UTC session time, TIMESTAMP (not NTZ) parquet reads so
    unix_micros applies, and ANSI off for permissive casts — are set
    here at runtime."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    except Exception:
        pass
    out = {}
    for name in names or TABLES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def md5_unit(seed: str) -> float:
    """Deterministic float in [-1, 1) from a seed string — used to
    generate LSH hyperplane components embedded as literals in BOTH the
    Spark plan and the DuckDB oracle (identical constants, no RNG)."""
    h = int(hashlib.md5(seed.encode()).hexdigest()[:8], 16)
    return h / float(2**31) - 1.0
