"""Enum / super-enum dimension resolution (SURVEY.md §2.2 P2/P3, §2.4 J1).

The reference holds enum maps in memory and fails the import on a missed
lookup (importer.clj:215-224: as-enum / as-super-enum raise
`could-not-import`). Spark-first: dims are small DataFrames joined with an
explicit broadcast; the miss check is a left-anti guard that raises with a
sample of offending rows (runtime check, not an optimizer concern —
SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as SCH
from ..sources.edn_source import read_edn_forms_local


class MissingDimensionValue(ValueError):
    """Raised when a fact value fails to resolve against its dimension —
    the analog of the reference's `could-not-import` (importer.clj:212-214)."""


def enums_dim(spark: SparkSession, enums_edn_path: str) -> DataFrame:
    """Flatten enums.edn {enum_type {value ident}} into dim rows (G9,
    enums->tx-data importer.clj:190-196)."""
    [raw] = read_edn_forms_local(enums_edn_path)
    rows = [
        (str(enum_type), str(value), str(ident))
        for enum_type, mapping in raw.items()
        for value, ident in mapping.items()
    ]
    from .localrel import local_df

    return local_df(spark, rows, SCH.ENUM_DIM)


def super_enums_dim(spark: SparkSession, basedir: str) -> DataFrame:
    """Flatten countries/langs/scripts.edn {code {:db/ident .. :ns/name ..
    :ns/code ..}} into dim rows (G10, super-enums->tx-data
    importer.clj:198-201)."""
    rows = []
    for table, fname in (("countries", "countries.edn"), ("langs", "langs.edn"), ("scripts", "scripts.edn")):
        [raw] = read_edn_forms_local(f"{basedir}/entities/{fname}")
        for code, ent in raw.items():
            ident = ent[":db/ident"]
            name = next(v for k, v in ent.items() if k.endswith("/name"))
            rows.append((table, str(code), str(name), str(ident)))
    from .localrel import local_df

    return local_df(spark, rows, SCH.SUPER_ENUM_DIM)


MISS_PREFIX = "__miss_"


def resolve_enum(
    fact: DataFrame,
    value_col: str,
    dim: DataFrame,
    dim_value_col: str,
    dim_ident_col: str,
    out_col: str | None = None,
    guard: bool = True,
    defer_guard: bool = False,
) -> DataFrame:
    """Replace `value_col` with its dimension ident via broadcast join.

    Null fact values pass through as null (optional keys). Non-null values
    that miss the dim raise MissingDimensionValue — eagerly when `guard`,
    or (with `defer_guard`) recorded in a `__miss_{col}` indicator column
    so a whole stage validates every dimension in ONE action
    (assert_no_misses) instead of one Spark job per enum column.
    """
    out_col = out_col or value_col
    d = F.broadcast(dim.select(
        F.col(dim_value_col).alias("__dim_v"), F.col(dim_ident_col).alias("__dim_ident")
    ))
    joined = fact.join(d, fact[value_col] == d["__dim_v"], "left")
    miss = F.col(value_col).isNotNull() & F.col("__dim_ident").isNull()
    if guard and not defer_guard:
        sample = joined.where(miss).select(value_col).limit(5).collect()
        if sample:
            raise MissingDimensionValue(
                f"could not resolve {value_col!r}: sample unresolved values "
                f"{[r[0] for r in sample]}"
            )
    cols = [
        F.col("__dim_ident").alias(out_col) if c == value_col else F.col(c)
        for c in fact.columns
    ]
    if guard and defer_guard:
        cols.append(miss.alias(f"{MISS_PREFIX}{out_col}"))
    return joined.select(*cols)


def assert_no_misses(df: DataFrame) -> DataFrame:
    """Single-action validation of every deferred `__miss_*` indicator:
    raises MissingDimensionValue naming the offending columns, returns the
    frame with indicators dropped. The one job replaces N per-column guard
    jobs (each of which re-ran the whole upstream pipeline).

    The guard is a full aggregate, not a `limit(n).collect()`: a limit
    scans partitions incrementally over several jobs and never fills a
    persisted input in one pass, while one count reads every partition
    once. The sample of offending rows is taken only on failure."""
    miss_cols = [c for c in df.columns if c.startswith(MISS_PREFIX)]
    if not miss_cols:
        return df
    any_miss = None
    for c in miss_cols:
        any_miss = F.col(c) if any_miss is None else (any_miss | F.col(c))
    [(n_miss,)] = df.agg(F.count(F.when(any_miss, 1))).collect()
    if n_miss:
        sample = df.where(any_miss).select(*miss_cols).limit(5).collect()
        bad = sorted({
            c[len(MISS_PREFIX):] for r in sample for c in miss_cols if r[c]
        })
        raise MissingDimensionValue(
            f"could not resolve dimension column(s): {bad} ({n_miss} rows)"
        )
    return df.drop(*miss_cols)
