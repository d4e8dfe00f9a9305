"""Connected components of a pair graph: union-find on the driver.

The dedup-decision step shared by the text, embedding, image, audio,
cross-modal and edit-distance near-dup pipelines: pairwise similarity
edges in, per-node component label out (min node id reachable =
representative). Extracted from the text clusters query so every
modality reuses one implementation.

Algorithm: one Arrow collect of the pair set, then a union-find with
path compression in which every root is its component's minimum node
id, so the labels need no second pass. The labels go back to Spark as a
local relation. There is no iteration cap: a 60-hop chain is labelled
as exactly as a near-clique, where an iterated label propagation needs
one round per hop of the longest shortest path.

Memory bound: the driver holds the PAIR GRAPH (its edges and their
distinct nodes), never the corpus. Callers left-join the corpus against
the returned labels in Spark, so singletons never reach the driver. A
near-dup pair graph is orders of magnitude smaller than the corpus that
produced it (the dedup benchmark: ~100 pairs over 1,100 documents); a
pair graph too large for one driver needs a distributed labelling.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# every caller LEFT-joins the corpus-sized entity table against the
# labels this operator returns, and labels cover only pair-graph nodes,
# so the operator hints broadcast when the label set is provably small.
# The gate counts DIRECTED edges (2 x input pairs), and every label row
# is an endpoint of some edge, so labels <= directed edges. At
# the 4M gate that bounds the broadcast at ~4M x 16-byte rows ~ 64 MB
# framed; above it the hint is omitted and the planner picks the join.
BROADCAST_LABELS_MAX_EDGES = 4_000_000


def hash_min_components(pairs: DataFrame) -> DataFrame:
    """(a, b) undirected edge pairs -> (node_id, rep) component labels,
    ``rep`` the minimum node id of the node's component.

    ``pairs`` must have exactly two like-typed columns (any names); the
    output covers every non-NULL node of at least one edge, typed like
    the first column. A pair with a NULL endpoint joins nothing, and
    callers left-join the full entity table and coalesce singletons to
    themselves."""
    arrow = pairs.toArrow()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(arrow.column(0).to_pylist(), arrow.column(1).to_pylist()):
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nodes = list(parent)
    id_type = arrow.schema.field(0).type
    labels = pairs.sparkSession.createDataFrame(
        pa.table({
            "node_id": pa.array(nodes, id_type),
            "rep": pa.array([find(n) for n in nodes], id_type),
        }),
        StructType([
            StructField("node_id", pairs.schema[0].dataType),
            StructField("rep", pairs.schema[0].dataType),
        ]),
    )
    # same rows either way; the hint only picks the join strategy for
    # the caller's corpus LEFT JOIN labels (see BROADCAST_LABELS_MAX_EDGES)
    if 2 * arrow.num_rows <= BROADCAST_LABELS_MAX_EDGES:
        return F.broadcast(labels)
    return labels
