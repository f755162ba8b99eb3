"""Query registry + the exact-arithmetic conventions for oracle parity.

Every query is a ``(spark, sf_dir) -> DataFrame`` callable plus, when
SQL-expressible, a DuckDB oracle string. The driver hash-compares
values, so floating-point aggregation must be *bit-identical* across
engines. Convention used throughout (fixture measures are exactly
2-decimal, verified in tests/test_fixture_assumptions.py):

  SUM(double_col)  ->  SUM(CAST(col AS DECIMAL(15,2))) :: DOUBLE
  products        ->  multiply DECIMAL-cast operands (exact), then sum
  AVG             ->  exact decimal SUM :: DOUBLE / COUNT  (identical
                      double division on identical inputs)

Decimal arithmetic is exact in both Spark and DuckDB, and casting the
exact result to double is deterministic — so partial-aggregation order
(which differs run to run AND engine to engine) can't change the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> driver rows-only check
    description: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, description: str = ""):
    """Decorator registering a named query with its oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, description or (fn.__doc__ or ""))
        return fn

    return deco


# ---- exact-aggregation column helpers (Spark side) ----

def dec(col: Column | str, typ: str = "decimal(15,2)") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def dsum(col: Column | str, typ: str = "decimal(15,2)") -> Column:
    """Order-insensitive exact sum of a 2-decimal double, as double."""
    return F.sum(dec(col, typ)).cast("double")


def davg(col: Column | str, typ: str = "decimal(15,2)") -> Column:
    """Exact-sum / count as double — engine-portable average."""
    return F.sum(dec(col, typ)).cast("double") / F.count(F.lit(1))


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(8,2)")


def charge() -> Column:
    """l_extendedprice * (1-l_discount) * (1+l_tax), exact decimal."""
    return disc_price() * (F.lit(1.0) + F.col("l_tax")).cast("decimal(8,2)")


# matching DuckDB SQL fragments
SQL_DISC_PRICE = "CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(1 - l_discount AS DECIMAL(8,2))"
SQL_CHARGE = SQL_DISC_PRICE + " * CAST(1 + l_tax AS DECIMAL(8,2))"


def sql_dsum(expr: str, typ: str = "DECIMAL(15,2)") -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE)"


# ---- oracle-portable md5-hex hashes (Spark side + DuckDB SQL side) ----
# A seeded pseudo-random draw both engines compute bit-for-bit: the
# leading hex digits of md5(text) read as an integer. DuckDB has no
# base-16 conv, so the SQL side folds the digits with strpos.

def hex8_spark(col: Column) -> Column:
    """Integer value of the first 8 hex digits of md5(col)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hex8_sql(expr: str) -> str:
    """DuckDB twin of ``hex8_spark``."""
    h = f"md5({expr})"
    out = "CAST(0 AS BIGINT)"
    for i in range(8):
        nib = f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        out = f"({out} * 16 + {nib})"
    return out


def hex4_spark(col: Column) -> Column:
    """Integer value of the first 4 hex digits of md5(col)."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long")


def hex4_sql(expr: str) -> str:
    """DuckDB twin of ``hex4_spark``."""
    h = f"md5({expr})"
    nibs = [
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        for i in range(4)
    ]
    return f"((({nibs[0]} * 16 + {nibs[1]}) * 16 + {nibs[2]}) * 16 + {nibs[3]})"


def split_top_level(s: str) -> list[str]:
    """Split SQL text on commas at paren depth 0 (CASE/DECIMAL commas safe)."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out
