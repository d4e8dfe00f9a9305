"""Unit tests for dedup/pivot/upsert operators on hand-built frames,
covering NULLS LAST tie-breaks (W1), CASE priority (W2), first-value
pivot (A1), and the two sink merge semantics (S5/S6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sec_xbrl_finwarehouse_spark.operators import (
    insert_if_absent,
    latest_wins,
    natural_key_dedup,
    pivot_first,
    priority_dedup,
    upsert_latest_wins,
)


def test_latest_wins_nulls_last(spark):
    # NULL filed must lose to any non-NULL date (DESC NULLS LAST)
    df = spark.createDataFrame(
        [("A", 2020, "t", 1.0, None, "acc1"),
         ("A", 2020, "t", 2.0, "2021-02-01", "acc2"),
         ("A", 2020, "t", 3.0, "2021-01-01", "acc3")],
        "cik string, fy int, tag string, value double, filed string, accn string",
    ).withColumn("filed", F.to_date("filed"))
    out = latest_wins(df, ["cik", "fy", "tag"],
                      [F.col("filed").desc_nulls_last(), F.col("accn").desc()])
    assert out.select("value").first()[0] == 2.0


def test_latest_wins_tiebreak_deterministic(spark):
    # equal filed dates -> accession DESC decides, stable across runs
    df = spark.createDataFrame(
        [("A", 2020, "t", 1.0, "2021-01-01", "acc1"),
         ("A", 2020, "t", 2.0, "2021-01-01", "acc9")],
        "cik string, fy int, tag string, value double, filed string, accn string",
    ).withColumn("filed", F.to_date("filed"))
    out = latest_wins(df, ["cik", "fy", "tag"],
                      [F.col("filed").desc_nulls_last(), F.col("accn").desc()])
    assert out.select("value").first()[0] == 2.0


def test_priority_dedup_prefers_10k(spark):
    # 10-K beats a LATER-filed 10-Q (v1/v2 CASE priority, v1.py:36-41)
    df = spark.createDataFrame(
        [("A", 2020, "t", 1.0, "2021-06-01", "10-Q"),
         ("A", 2020, "t", 2.0, "2021-01-01", "10-K")],
        "cik string, fy int, tag string, value double, filed string, form string",
    ).withColumn("filed", F.to_date("filed"))
    out = priority_dedup(
        df, ["cik", "fy", "tag"],
        F.when(F.col("form") == "10-K", 0).otherwise(1),
        [F.col("filed").desc_nulls_last()],
    )
    assert out.select("value").first()[0] == 2.0


def test_pivot_first_static_schema(spark):
    df = spark.createDataFrame(
        [("A", 2020, "x", 1.0), ("A", 2020, "y", 2.0), ("B", 2021, "x", 3.0)],
        "cik string, fy int, tag string, value double",
    )
    out = pivot_first(df, ["cik", "fy"], "tag", "value", ["x", "y", "z"])
    assert out.columns == ["cik", "fy", "x", "y", "z"]
    a = out.filter(F.col("cik") == "A").first()
    assert (a["x"], a["y"], a["z"]) == (1.0, 2.0, None)


def test_upsert_latest_wins_overwrites_on_key(spark):
    existing = spark.createDataFrame([("1", "old1"), ("2", "old2")], "k string, v string")
    incoming = spark.createDataFrame([("2", "new2"), ("3", "new3")], "k string, v string")
    out = {r["k"]: r["v"] for r in upsert_latest_wins(existing, incoming, ["k"]).collect()}
    assert out == {"1": "old1", "2": "new2", "3": "new3"}


def test_insert_if_absent_keeps_existing(spark):
    existing = spark.createDataFrame([("1", "old1")], "k string, v string")
    incoming = spark.createDataFrame([("1", "NEW"), ("2", "new2"), ("2", "dup")], "k string, v string")
    out = {r["k"]: r["v"] for r in insert_if_absent(existing, incoming, ["k"]).collect()}
    assert out["1"] == "old1" and out["2"] in ("new2", "dup") and len(out) == 2


def test_insert_if_absent_idempotent(spark):
    existing = spark.createDataFrame([("1", "a")], "k string, v string")
    incoming = spark.createDataFrame([("2", "b")], "k string, v string")
    once = insert_if_absent(existing, incoming, ["k"])
    twice = insert_if_absent(once, incoming, ["k"])
    assert twice.count() == once.count() == 2


def test_natural_key_dedup_reingest_noop(spark):
    df = spark.createDataFrame([("A", 1.0), ("A", 1.0), ("B", 2.0)], "k string, v double")
    assert natural_key_dedup(df, ["k", "v"]).count() == 2


def test_hash_min_components_broadcast_gate(spark, monkeypatch):
    """r12: hash_min_components hints broadcast on its returned labels
    when the measured edge count is under BROADCAST_LABELS_MAX_EDGES,
    so the callers' corpus LEFT JOIN labels plans a broadcast join
    instead of sort-merging the corpus side. The labels themselves must
    be identical with and without the hint (the hint only picks the
    join strategy), and the small-graph join must actually plan
    broadcast."""
    from sec_xbrl_finwarehouse_spark.operators import connected_components as cc

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    entities = spark.createDataFrame([(i,) for i in range(1, 13)],
                                     "node_id long")

    def labels_map():
        labels = cc.hash_min_components(pairs)
        joined = entities.join(labels, "node_id", "left")
        return labels, {r.node_id: r.rep for r in joined.collect()}

    labels_hinted, got = labels_map()
    expect = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert {k: v for k, v in got.items() if v is not None} == expect
    plan = entities.join(labels_hinted, "node_id", "left")._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    # above the gate: same labels, no hint forced
    monkeypatch.setattr(cc, "BROADCAST_LABELS_MAX_EDGES", -1)
    _, got_unhinted = labels_map()
    assert got_unhinted == got


def _components_ref(nodes, pairs):
    """Pure-Python reference: node -> min node of its component, by graph
    search over the pairs with both endpoints non-NULL."""
    adj = {n: set() for n in nodes}
    for a, b in pairs:
        if a is not None and b is not None:
            adj[a].add(b)
            adj[b].add(a)
    rep = {}
    for n in nodes:
        if n in rep:
            continue
        comp, frontier = {n}, [n]
        while frontier:
            for y in adj[frontier.pop()]:
                if y not in comp:
                    comp.add(y)
                    frontier.append(y)
        for x in comp:
            rep[x] = min(comp)
    return rep


def _caller_view(spark, pairs, nodes, id_type):
    """What every caller sees: the entity table LEFT JOIN the labels,
    singletons coalesced to themselves."""
    from sec_xbrl_finwarehouse_spark.operators import connected_components as cc

    pdf = spark.createDataFrame(pairs, f"a {id_type}, b {id_type}")
    labels = cc.hash_min_components(pdf)
    ents = spark.createDataFrame([(n,) for n in nodes], f"node_id {id_type}")
    got = (ents.join(labels, "node_id", "left")
           .select("node_id", F.coalesce("rep", "node_id").alias("rep"))
           .collect())
    return {r.node_id: r.rep for r in got}, labels


def test_hash_min_components_long_path(spark):
    """A 60-hop path labels every node with 0: no iteration cap stops
    the labelling short of the far end of a long chain."""
    import random

    pairs = [(i, i + 1) if i % 2 else (i + 1, i) for i in range(60)]
    random.Random(7).shuffle(pairs)
    got, _ = _caller_view(spark, pairs, list(range(61)), "bigint")
    assert got == {i: 0 for i in range(61)}


def _random_graph(rng, ids):
    """Seeded pair list over ``ids`` with self-loops, duplicate and
    reversed edges, and pairs with one or both endpoints NULL."""
    pairs = [tuple(rng.sample(ids, 2)) for _ in range(len(ids) * 2 // 3)]
    pairs += [(x, x) for x in rng.sample(ids, 3)]                  # self-loops
    pairs += rng.sample(pairs, 4)                                  # duplicates
    pairs += [(b, a) for a, b in rng.sample(pairs, 4)]             # reversed
    pairs += [(rng.choice(ids), None), (None, rng.choice(ids)), (None, None)]
    rng.shuffle(pairs)
    return pairs


def test_hash_min_components_matches_reference(spark):
    """Seeded random graphs, long and string ids: the callers' left-join
    view equals the pure-Python reference, pairs with a NULL endpoint
    connect nothing, and the labels hold exactly the non-NULL nodes of
    the pairs."""
    import random

    for seed in range(3):
        rng = random.Random(seed)
        longs = rng.sample(range(10**12), 40)
        strings = [f"d{x}" for x in rng.sample(range(1000), 35)] + ["é", "Z", ""]
        for ids, id_type in ((longs, "bigint"), (strings, "string")):
            pairs = _random_graph(rng, ids)
            got, labels = _caller_view(spark, pairs, ids, id_type)
            assert got == _components_ref(ids, pairs)
            assert {r.node_id for r in labels.collect()} == {
                x for p in pairs for x in p if x is not None}
            assert labels.dtypes == [("node_id", id_type), ("rep", id_type)]


def test_hash_min_components_persists_nothing(spark):
    """The call leaves no persisted or checkpointed RDD behind."""
    from sec_xbrl_finwarehouse_spark.operators import connected_components as cc

    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    cc.hash_min_components(pairs).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
