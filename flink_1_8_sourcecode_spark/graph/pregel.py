"""Vertex-centric iteration — the user-programmable model behind Gelly's
spargel (scatter-gather), gsa and pregel packages
(flink-gelly/.../spargel/ScatterGatherIteration.java,
.../pregel/VertexCentricIteration.java).

The Spark-first formulation is Column-expression-based, so a user
algorithm stays entirely in Catalyst plans:

- scatter: build messages from each edge joined with its SOURCE
  vertex state — a dict of msg-column expressions over the joined frame
  (edge columns + ``src_<state>`` columns);
- gather: aggregate messages per destination — a dict of aggregate
  Columns over the message frame;
- apply: produce the new state from old state + aggregates — a
  callable over the joined frame (state columns + aggregate columns,
  NULL aggregates for vertices that received no messages).

Each superstep is one join + one groupBy — the same single-shuffle
round as Gelly's runtime.  Lineage is truncated by iterate()'s
localCheckpoint.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.operators.iterations import iterate


def scatter_gather_iteration(
    vertices: DataFrame,
    edges: DataFrame,
    scatter: Callable[[DataFrame, int], Mapping[str, Column]],
    gather: Callable[[int], Mapping[str, Column]],
    apply_fn: Callable[[DataFrame, int], list[Column]],
    max_iterations: int,
) -> DataFrame:
    """Run supersteps over vertex ``state`` (vertices must carry an
    ``id`` column; every other column is state).

    scatter(joined, superstep) -> {msg_col: expr} over edge columns +
    ``src_<col>`` state columns (one message per edge).
    gather(superstep) -> {agg_name: agg_expr} over ``msg_*`` columns.
    apply_fn(joined, superstep) -> select-list producing the new state
    (must include ``id``); aggregate columns are NULL for vertices
    without messages.  Supersteps are 1-based, like getSuperstepNumber().
    """
    state_cols = [c for c in vertices.columns if c != "id"]
    edges = edges.persist()

    def step(state: DataFrame, i: int) -> DataFrame:
        superstep = i + 1
        src_state = state.select(
            F.col("id").alias("__src_id"),
            *[F.col(c).alias(f"src_{c}") for c in state_cols],
        )
        joined = edges.join(src_state, edges.src == F.col("__src_id"))
        msgs = joined.select(
            F.col("dst").alias("id"),
            *[expr.alias(name) for name, expr in scatter(joined, superstep).items()],
        )
        aggs = msgs.groupBy("id").agg(
            *[expr.alias(name) for name, expr in gather(superstep).items()]
        )
        new_state = state.join(aggs, "id", "left")
        return new_state.select(*apply_fn(new_state, superstep))

    out = iterate(vertices, step, max_iterations)
    edges.unpersist()
    return out
