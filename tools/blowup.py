"""Table-level blow-up of a fixture sf dir for the scale probes.

``write(spark, sf_dir, out_dir, arm, k)`` writes k copies of every
fixture table into ``out_dir`` as a new sf dir, so any registered query
runs on it unchanged.  One table, ``KEYS``, names each table's key
columns and the key space each draws from; the three arms read it:

- ``disjoint``: copy c adds ``c * offset(space)`` to every key column.
  The offset is a power of ten (at least 100) above the space's largest
  key, so copies never share a key, foreign keys stay inside their own
  copy, and every ``key % m`` rule with m dividing 100 (the trade
  graph's ``node % 20`` seeds, ``o_orderkey % 100``) selects k times the
  base set.  Copy c > 0 prefixes every document token with ``c<c>x``,
  so no shingle, n-gram or content hash crosses copies; a quality score
  that counts stopwords finds none in a tagged copy, so quality-gated
  pipelines are probed under ``rotated``.
- ``rotated``: the node spaces (``NODE_SPACES``) keep their key sets:
  their tables are written once, and each copy of a referencing table
  rotates those foreign keys by ``c * _ROTATE_STRIDE`` modulo the space
  size.  Own keys shift as in ``disjoint`` and text is copied verbatim,
  so graphs densify over a fixed node set and the corpus gains k
  near-duplicate copies.
- ``skew``: the ``disjoint`` copies, then in each table of ``SKEW`` the
  rows whose first key has ``key % 10 < 3`` (30%) take one planted
  value shared across copies: a hot part, a hot user, or one untagged
  template document.

Event time is never shifted: copies share the time axis, so the event
rate per time bucket grows k-fold under every arm.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matrix_multiplication_bigdata_ind_assignments_spark.sources.io import TABLES, load

ARMS = ("disjoint", "rotated", "skew")

#: table -> {key column: key space}.  A space named after the table is
#: its own key; tables absent here (nation, region) are written once.
KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "users"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}

#: Key spaces whose key sets the rotated arm keeps fixed.
NODE_SPACES = ("customer", "supplier", "part", "users")

#: skew arm: table -> (column, planted value) for 30% of each copy.
SKEW_TEMPLATE = " ".join(f"boiler{i} plate{i} legal{i}" for i in range(16))
SKEW = {
    "lineitem": ("l_partkey", 0),
    "events": ("user_id", 0),
    "documents": ("text", SKEW_TEMPLATE),
}
SKEW_MOD, SKEW_LT = 10, 3

_ROTATE_STRIDE = 379  # prime: copies rotate to distinct keys while c * 379 % n differs


def spans(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Key space -> 1 + the largest key any table draws from it."""
    out: dict[str, int] = {}
    for table, cols in KEYS.items():
        row = load(spark, sf_dir, table).agg(*(F.max(c).alias(c) for c in cols)).first()
        for col, space in cols.items():
            out[space] = max(out.get(space, 0), int(row[col]) + 1)
    return out


def offset(n: int) -> int:
    """The disjoint copy stride for a space of keys 0..n-1."""
    return 10 ** max(2, len(str(n - 1)))


def _copy(df: DataFrame, table: str, arm: str, c: int, n: dict[str, int]) -> DataFrame:
    cols = {}
    for col, space in KEYS[table].items():
        typ = df.schema[col].dataType
        if arm == "rotated" and space in NODE_SPACES:
            cols[col] = ((F.col(col) + c * _ROTATE_STRIDE) % n[space]).cast(typ)
        else:
            cols[col] = (F.col(col) + c * offset(n[space])).cast(typ)
    if table == "documents" and arm != "rotated" and c > 0:
        tag = f"c{c}x"
        cols["text"] = F.concat(F.lit(tag), F.regexp_replace("text", " ", " " + tag))
    if arm == "skew" and table in SKEW:
        col, value = SKEW[table]
        hot = F.col(next(iter(KEYS[table]))) % SKEW_MOD < SKEW_LT
        cols[col] = F.when(hot, F.lit(value)).otherwise(cols.get(col, F.col(col)))
    if "text" in cols:
        cols["n_chars"] = F.length(cols["text"]).cast(df.schema["n_chars"].dataType)
    return df.withColumns(cols)


def copies(
    spark: SparkSession, sf_dir: str, table: str, arm: str, k: int, n: dict[str, int] | None = None
) -> DataFrame:
    """The blown-up ``table`` as one lazy union of its copies."""
    if arm not in ARMS:
        raise ValueError(f"unknown arm {arm!r}; known: {ARMS}")
    df = load(spark, sf_dir, table)
    if table not in KEYS or (arm == "rotated" and table in NODE_SPACES):
        return df
    n = n or spans(spark, sf_dir)
    return reduce(DataFrame.unionByName, (_copy(df, table, arm, c, n) for c in range(k)))


def write(spark: SparkSession, sf_dir: str, out_dir: str, arm: str, k: int) -> str:
    """Write every fixture table of ``sf_dir`` blown up ``k``-fold under
    ``arm`` into ``out_dir``; returns ``out_dir``."""
    n = spans(spark, sf_dir)
    for table in TABLES:
        copies(spark, sf_dir, table, arm, k, n).write.mode("overwrite").parquet(
            f"{out_dir}/{table}.parquet"
        )
    return out_dir
