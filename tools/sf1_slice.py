"""The sf1 slice: a 10x copy of sf0.1 for measuring one decade above
sf0.1 (``tools/bench_sf1.py`` times it, ``tools/check_sf1.py`` runs the
oracle on it).

No data generator ships with the repo, so the slice is built by
replication. For a scaling measurement what matters is that each
replica's data properties match sf0.1 exactly:

- Every table in :data:`SHIFTS` becomes :data:`REPLICAS` key-shifted
  disjoint replicas. Replica ``r`` adds ``r * offset`` to each key
  column, with one offset per key domain, shared by every table that
  carries the key: a lineitem row of replica ``r`` joins the orders,
  part and supplier rows of replica ``r`` and no other. Each offset
  clears the largest key of its domain in every table that carries it.
- The orderkey offset is a multiple of 5, so the graph queries'
  ``l_orderkey % 5 = 0`` sample selects the same orders in every
  replica: the co-order graph becomes 10 disjoint copies of the sf0.1
  graph (same degree distribution, 10x nodes, edges and wedges).
- ``documents``: replicas > 0 prefix every token with a replica tag, so
  no shingle, window or line collides across replicas. Posting-list and
  duplicate-cluster sizes match sf0.1 while the corpus is 10x.
  Verbatim copies would instead make 10-way duplicate clusters
  everywhere, a 100x-harder workload with a different distribution.
- ``embeddings``: ``label`` shifts too, so the slice has 10x vectors AND
  10x clusters with sf0.1's per-cluster geometry.
- ``events``: user and event ids shift, timestamps do not: 10x users
  over the same observation window, so daily rollups get 10x rows per
  day while per-user histories and duration domains keep their shape.
- ``supplier`` shifts ``s_suppkey`` with lineitem's ``l_suppkey`` and
  keeps ``s_nationkey``, as TPC-H scales SUPPLIER with SF.
- Names (``c_name``, ``s_name``) are rebuilt from the shifted key the
  way TPC-H writes them (``Customer#`` or ``Supplier#`` then the key
  zero-padded to 9 digits, which every sf0.1 row matches), so a query
  grouping by name sees 10x groups, not 10 replicas merged per name.
  Every other non-key column is copied verbatim.
- ``nation`` and ``region`` are fixed-size in TPC-H: symlinks to the
  source files.

Usage: python tools/sf1_slice.py    (builds the slice if needed and
prints its row counts)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1_DIR = os.path.join(REPO, "scale_probe_data", "sf1")
REPLICAS = 10

#: Written once every table of this layout is built; holds the row
#: counts. A directory without it rebuilds every replicated table.
MARKER = ".built_v6"

#: table -> {key column: key domain}. Columns of one domain shift by the
#: same offset.
SHIFTS = {
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "customer": {"c_custkey": "custkey"},
    "part": {"p_partkey": "partkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id", "label": "label"},
}

#: table -> (name column, key column, TPC-H name prefix)
NAMES = {
    "customer": ("c_name", "c_custkey", "Customer#"),
    "supplier": ("s_name", "s_suppkey", "Supplier#"),
}


def _path(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def _offsets(spark, src: str) -> dict[str, int]:
    """Key domain -> offset: one past the largest key any table holds
    in that domain, the orderkey offset rounded up to a multiple of 5."""
    top: dict[str, int] = {}
    for table, shifts in SHIFTS.items():
        row = spark.read.parquet(_path(src, table)).agg(
            *[F.max(c) for c in shifts]
        ).first()
        for domain, mx in zip(shifts.values(), row):
            top[domain] = max(top.get(domain, -1), int(mx))
    offsets = {domain: mx + 1 for domain, mx in top.items()}
    offsets["orderkey"] = -(-offsets["orderkey"] // 5) * 5
    return offsets


def _replicate(spark, df, offsets: dict[str, int], replaced=None):
    """:data:`REPLICAS` copies of ``df``; copy ``r`` (column ``_r``) adds
    ``r * offsets[c]`` to each column ``c`` in ``offsets``, keeping its
    type. ``replaced`` maps other columns to expressions over ``_r``;
    every remaining column is copied verbatim."""
    r = F.col("_r")
    cols = {
        c: (F.col(c) + r * off).cast(df.schema[c].dataType)
        for c, off in offsets.items()
    }
    cols.update(replaced or {})
    return df.crossJoin(spark.range(REPLICAS).withColumnRenamed("id", "_r")).select(
        *[cols.get(c, F.col(c)).alias(c) for c in df.columns]
    )


def _documents_tagging():
    """Replica > 0 prefixes every token with ``r<r>x``, so no token,
    shingle or line is shared across replicas."""
    r = F.col("_r")
    text = F.when(r == 0, F.col("text")).otherwise(
        F.array_join(
            F.transform(
                F.split("text", " "),
                lambda tok: F.concat(F.lit("r"), r.cast("string"), F.lit("x"), tok),
            ),
            " ",
        )
    )
    return {"text": text, "n_chars": F.length(text).cast("bigint")}


def ensure_sf1(spark, src: str = SF01, dst: str = SF1_DIR) -> dict:
    """Build the slice of ``src`` under ``dst`` unless it is there, and
    return its row counts. A table counts as built only when its Spark
    ``_SUCCESS`` file exists (an interrupted write leaves a directory
    without one) and ``dst`` carries this layout's :data:`MARKER`."""
    marker = os.path.join(dst, MARKER)
    built = os.path.exists(marker)
    todo = [
        t
        for t in SHIFTS
        if not (built and os.path.exists(os.path.join(_path(dst, t), "_SUCCESS")))
    ]
    if not todo:
        with open(marker) as fh:
            return json.load(fh)

    from amadou_spark.contracts import TABLE_NAMES

    os.makedirs(dst, exist_ok=True)
    for t in TABLE_NAMES:
        if t not in SHIFTS and not os.path.lexists(_path(dst, t)):
            os.symlink(os.path.abspath(_path(src, t)), _path(dst, t))
    offsets = _offsets(spark, src)
    for t in todo:
        df = spark.read.parquet(_path(src, t))
        shifts = {c: offsets[domain] for c, domain in SHIFTS[t].items()}
        replaced = _documents_tagging() if t == "documents" else None
        if t in NAMES:
            name, key, prefix = NAMES[t]
            shifted = (F.col(key) + F.col("_r") * shifts[key]).cast("string")
            replaced = {name: F.concat(F.lit(prefix), F.lpad(shifted, 9, "0"))}
        _replicate(spark, df, shifts, replaced).write.mode("overwrite").parquet(
            _path(dst, t)
        )
    info = {"replicas": REPLICAS}
    for t in SHIFTS:
        info[f"{t}_rows"] = spark.read.parquet(_path(dst, t)).count()
    with open(marker, "w") as fh:
        json.dump(info, fh)
    return info


if __name__ == "__main__":
    from amadou_spark.session import get_spark

    print(json.dumps(ensure_sf1(get_spark("amadou-sf1-slice"))))
