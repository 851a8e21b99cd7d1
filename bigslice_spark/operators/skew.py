"""Skew-mitigation operators.

The reference has no skew handling: its hash partition is static
(exec/compile.go:20-24) and its cogroup sends a whole key through one
reducer (reduce.go:1-40). This module adds it.

- bucketed_join: the one salted equi-join. A hot key is spread over a
  grid of cells so no single task produces its whole output.
- key_skew_report: the diagnostic to read before tuning a join or agg.
- two-stage salted aggregation is a pattern in queries.op_salted_agg:
  groupBy(key, salt) partial, then groupBy(key) merge, for when the
  final aggregate itself is the hot spot.

Cell grid. A key with ``na`` left rows and ``nb`` right rows gets
``nca = ceil(na / chunk_target)`` by ``ncb = ceil(nb / chunk_target)``
cells. A left row takes the chunk ``ca = pmod(xxhash64(id), nca)`` and
is copied to every cell ``(ca, cb)`` with ``cb < ncb``; a right row is
the mirror image. The join key becomes ``keys + (ca, cb)``, so every
pair of rows meets in exactly one cell: the output equals the plain
join, and no cell emits more than ``chunk_target²`` rows. A key that
fits one chunk on both sides is one cell, the plain join.

Why AQE cannot do this. Spark's skew-join splitter looks at the join's
INPUT bytes per partition. A degenerate LSH bucket of B near-identical
documents has B narrow input rows (about 24 bytes each) but B² output
rows, all from the one task that owns the key; a 2k-row bucket is about
48 KB of input and never trips the splitter. The split has to be sized
by the output, which only the caller knows is quadratic.

Join strategy. A self-join is pinned to sort-merge (``hint("merge")``):
if the relation fits the broadcast threshold Catalyst would broadcast one
side, the probe side would keep its upstream partitioning, and the hot
key's output would stay in one task whatever the cells say. At corpus
scale a self-join is sort-merge anyway, so the pin is plan-neutral there.
A two-relation join is not pinned: a small new batch against a large
corpus wins by broadcasting the batch so the corpus never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import materialize, release


def bucketed_join(left: DataFrame, right: DataFrame | None = None,
                  keys: list[str] | None = None, id_col: str = "id",
                  chunk_target: int = 2048,
                  bn_col: str | None = None) -> DataFrame:
    """``left ⋈_keys right``, or ``left ⋈_keys left`` when ``right`` is
    None, with hot keys spread over the module's cell grid. Returns
    ``keys`` plus every other column of each side, suffixed ``_a``
    (left) and ``_b`` (right). The rows are exactly those of the plain
    inner join.

    Sizing, in one of two ways:

    - ``bn_col`` (self-join only) names a column of ``left`` that
      already holds each row's key size, such as a document-frequency
      window count, so no counting pass runs. A NULL size counts as
      one chunk. The column is not in the output.
    - Otherwise per-key row counts are aggregated (once for a
      self-join, once per side for two relations) and the keys with
      more than ``chunk_target`` rows on either side are materialized
      as a small hot-key table. When it is empty, the usual case, the
      result is the plain join with no salting in the plan.

    ``id_col`` spreads a key's rows over its chunks and need not be
    unique. A side without ``id_col`` is never split: its chunk count
    is 1, so it is the side copied to each chunk of the other. That is
    the input-skew use, where one side holds a row per key.

    Raises ValueError, before any Spark job runs, for empty ``keys``,
    ``chunk_target < 1``, ``bn_col`` with a ``right`` relation, or an
    ``id_col`` that is in neither relation."""
    if not keys:
        raise ValueError("bucketed_join needs at least one key column")
    if chunk_target < 1:
        raise ValueError(f"chunk_target must be >= 1, got {chunk_target}")
    self_join = right is None
    if self_join:
        right = left
    elif bn_col is not None:
        raise ValueError("bn_col sizes a self-join only (right=None)")
    split_a, split_b = id_col in left.columns, id_col in right.columns
    if not (split_a or split_b):
        raise ValueError(f"id_col {id_col!r} is in neither relation")
    keys = list(keys)
    pay_a = [F.col(c).alias(c + "_a") for c in left.columns
             if c not in keys and c != bn_col]
    pay_b = [F.col(c).alias(c + "_b") for c in right.columns
             if c not in keys and c != bn_col]

    def join(a: DataFrame, b: DataFrame, on: list[str]) -> DataFrame:
        if self_join:
            a, b = a.hint("merge"), b.hint("merge")
        return a.join(b, on=on)

    def nchunks(n: "F.Column") -> "F.Column":
        return F.ceil(n / F.lit(float(chunk_target))).cast("int")

    if bn_col is not None:
        # greatest() skips NULL: a NULL size would otherwise make the
        # cell explode below silently drop the row
        nc = F.greatest(nchunks(F.col(bn_col)), F.lit(1))
        sized_a = sized_b = left.withColumns({"__nca__": nc,
                                              "__ncb__": nc})
    else:
        def per_key(df: DataFrame, split: bool, nc: str) -> DataFrame:
            n = nchunks(F.count(F.lit(1))) if split else F.lit(1)
            return df.groupBy(*keys).agg(n.alias(nc))

        sizes = per_key(left, split_a, "__nca__")
        if self_join:
            sizes = sizes.withColumn("__ncb__", F.col("__nca__"))
        else:
            sizes = sizes.join(per_key(right, split_b, "__ncb__"), on=keys)
        # materialized: as a lazy subtree the sizing pass would run once
        # under each join side
        hot = materialize(
            sizes.filter((F.col("__nca__") > 1) | (F.col("__ncb__") > 1)))
        if hot.isEmpty():
            release(hot)
            return join(left.select(*keys, *pay_a),
                        right.select(*keys, *pay_b), keys)

        def sized(df: DataFrame) -> DataFrame:
            return (df.join(F.broadcast(hot), on=keys, how="left")
                    .withColumns({c: F.coalesce(F.col(c), F.lit(1))
                                  for c in ("__nca__", "__ncb__")}))

        sized_a = sized(left)
        sized_b = sized_a if self_join else sized(right)

    def chunk(split: bool, nc: str) -> "F.Column":
        if not split:
            return F.lit(0)
        return F.pmod(F.xxhash64(F.col(id_col)), F.col(nc)).cast("int")

    def cells(nc: str) -> "F.Column":
        return F.explode(F.sequence(F.lit(0), F.col(nc) - 1))

    a = sized_a.select(*keys, *pay_a,
                       chunk(split_a, "__nca__").alias("__ca__"),
                       cells("__ncb__").alias("__cb__"))
    b = sized_b.select(*keys, *pay_b,
                       cells("__nca__").alias("__ca__"),
                       chunk(split_b, "__ncb__").alias("__cb__"))
    return join(a, b, keys + ["__ca__", "__cb__"]).drop("__ca__", "__cb__")


def key_skew_report(df: DataFrame, key_cols: list[str],
                    top_n: int = 20) -> DataFrame:
    """Skew diagnostics: the report to read BEFORE tuning a join/agg.

    Top-N heaviest keys with exact counts and their share of total
    rows, plus each key's multiple of the mean key load ("a perfectly
    even partitioning would give every key load 1.0×; this key is
    840×"). One hash aggregation over the input + a tiny top-k — no
    second pass; the total and distinct-key count ride along as a
    1-row broadcast (the q11 scalar pattern, no driver collect).

    All doubles derive from exact integers with one division each, so
    the report is engine-reproducible (oracle-checkable)."""
    per = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = per.agg(F.sum("n_rows").alias("tot"),
                  F.count(F.lit(1)).alias("n_keys"))
    j = per.crossJoin(F.broadcast(tot))
    share = F.col("n_rows").cast("double") / F.col("tot").cast("double")
    # load multiple vs the mean key: n / (tot / n_keys), same operand
    # order in the oracle
    hot = (F.col("n_rows").cast("double")
           / (F.col("tot").cast("double")
              / F.col("n_keys").cast("double")))
    return (j.select(*key_cols, "n_rows", share.alias("share"),
                     hot.alias("x_mean"))
            .orderBy(F.desc("n_rows"), *key_cols)
            .limit(top_n))
