"""Incremental view maintenance (operators/ivm.py): min/max across
inserts, interior deletes (pure delta), and extremum departures
(per-group recompute) — every case checked against a from-scratch
aggregate of the post state."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fs_indexer_elasticsearch_spark.operators.ivm import maintain_min_max
from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

SCHEMA = "k string, v int, grp string, val int"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _scratch(store, version):
    return {
        r.grp: (r.n, r.min_v, r.max_v)
        for r in store.read(version=version)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("val").alias("min_v"),
            F.max("val").alias("max_v"),
        )
        .collect()
    }


def _maintained(store, v_from, v_to):
    return {
        r.grp: (r.n, r.min_v, r.max_v)
        for r in maintain_min_max(store, v_from, v_to, ["grp"], "val").collect()
    }


def test_minmax_all_branches(spark, tmp_path):
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    # Group A: min=1 (a1), interior 5, max=9 (a3).
    # Group B: min=10, interior 20, max=30.
    # Group C: single row (its min IS its max).
    store.overwrite(
        _df(
            spark,
            [
                ("a1", 1, "A", 1), ("a2", 1, "A", 5), ("a3", 1, "A", 9),
                ("b1", 1, "B", 10), ("b2", 1, "B", 20), ("b3", 1, "B", 30),
                ("c1", 1, "C", 7),
            ],
        )
    )

    # v2: delete A's MIN (extremum departure -> recompute A), delete
    # B's interior row (pure delta), insert a new B max (pure delta),
    # new group D, and an UPDATE that moves c1 from C to D (C empties).
    store.merge(
        _df(spark, [("b4", 1, "B", 35), ("d1", 1, "D", 50), ("c1", 2, "D", 60)]),
        removed=spark.createDataFrame([("a1",), ("b2",)], "k string"),
    )
    assert _maintained(store, 1, 2) == _scratch(store, 2)
    assert _scratch(store, 2) == {
        "A": (2, 5, 9),
        "B": (3, 10, 35),
        "D": (2, 50, 60),
    }

    # v3: a no-extremum cycle — the delta path alone must carry it
    # (insert interior values, update an interior row in place).
    store.merge(
        _df(spark, [("a4", 1, "A", 7), ("b3", 2, "B", 30)]),
    )
    assert _maintained(store, 2, 3) == _scratch(store, 3)
    # And the full window spans both cycles.
    assert _maintained(store, 1, 3) == _scratch(store, 3)


def test_minmax_tie_departure_is_conservative(spark, tmp_path):
    """Deleting ONE of two rows that tie at the extremum flags a
    recompute (conservative) and still lands on the exact view: the
    surviving tie keeps the extremum."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(
        _df(spark, [("a1", 1, "A", 3), ("a2", 1, "A", 3), ("a3", 1, "A", 8)])
    )
    store.merge(
        _df(spark, []).limit(0),
        removed=spark.createDataFrame([("a1",)], "k string"),
    )
    assert _maintained(store, 1, 2) == {"A": (2, 3, 8)}


def test_minmax_null_group_extremum_departure(spark, tmp_path):
    """A NULL group value must survive the recompute path: isin/==
    never match NULL, so without the null-safe predicate the group
    silently vanished from the maintained view (r9 review finding)."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(
        spark.createDataFrame(
            [("n1", 1, None, 2), ("n2", 1, None, 6), ("a1", 1, "A", 5)],
            SCHEMA,
        )
    )
    # Delete the NULL group's min -> recompute must still report it.
    store.merge(
        _df(spark, []).limit(0),
        removed=spark.createDataFrame([("n1",)], "k string"),
    )
    assert _maintained(store, 1, 2) == _scratch(store, 2)
    assert _scratch(store, 2) == {None: (1, 6, 6), "A": (1, 5, 5)}


def test_minmax_steady_state_reuses_previous_view(spark, tmp_path):
    """Feeding each cycle's output back in (old_view=) must equal the
    from-v_from derivation — the steady-state path that never rescans
    the base."""
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(
        _df(spark, [("a1", 1, "A", 1), ("a2", 1, "A", 9), ("b1", 1, "B", 4)])
    )
    store.merge(_df(spark, [("a3", 1, "A", 5), ("b2", 1, "B", 7)]))
    v1_view = maintain_min_max(store, 1, 2, ["grp"], "val").localCheckpoint(
        eager=False
    )
    store.merge(
        _df(spark, [("c1", 1, "C", 3)]),
        removed=spark.createDataFrame([("a2",)], "k string"),
    )
    chained = {
        r.grp: (r.n, r.min_v, r.max_v)
        for r in maintain_min_max(
            store, 2, 3, ["grp"], "val", old_view=v1_view
        ).collect()
    }
    assert chained == _scratch(store, 3)


def test_minmax_max_departure_and_group_vanish(spark, tmp_path):
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(
        _df(spark, [("a1", 1, "A", 1), ("a2", 1, "A", 9), ("b1", 1, "B", 4)])
    )
    # Delete A's MAX and all of B.
    store.merge(
        _df(spark, []).limit(0),
        removed=spark.createDataFrame([("a2",), ("b1",)], "k string"),
    )
    assert _maintained(store, 1, 2) == {"A": (1, 1, 1)}


def test_maintain_joined_agg_chained_equals_scratch(spark, tmp_path):
    """Joined-view maintenance with BOTH sides changing, chained over
    two windows with old_view feedback: the two-term delta must land
    exactly on the from-scratch F(v) join D(v) aggregate at every
    step, through fact insert/update/delete, dim insert, dim group
    migration, dim delete, a migrated key with no facts, and a key
    whose facts all disappear."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_joined_agg,
    )

    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=4,
    )
    fschema = "fk long, v int, cust long, price double"
    dschema = "dk long, v int, grp string"
    # v1: customers 1..4 in groups a/a/b/b; facts spread over 1..3
    # (customer 4 has NO facts) + customer 5 absent from the dim.
    dim.overwrite(spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "a"), (3, 1, "b"), (4, 1, "b")], dschema))
    fact.overwrite(spark.createDataFrame(
        [(10, 1, 1, 5.0), (11, 1, 1, 7.0), (12, 1, 2, 1.0),
         (13, 1, 3, 2.0), (14, 1, 3, 4.0), (15, 1, 5, 9.0)], fschema))
    # window 1->2: fact: update 11 (price 7->20), insert 16 (cust 2),
    # delete 13; dim: migrate customer 2 a->b, insert customer 5
    # (group c — has a pre-existing fact), delete customer 3.
    fact.merge(
        spark.createDataFrame([(11, 2, 1, 20.0), (16, 2, 2, 3.0)], fschema),
        removed=spark.createDataFrame([(13,)], "fk long"),
    )
    dim.merge(
        spark.createDataFrame([(2, 2, "b"), (5, 2, "c")], dschema),
        removed=spark.createDataFrame([(3,)], "dk long"),
    )
    # window 2->3: fact: delete BOTH of customer 1's rows (group a
    # empties), insert 17 for the fact-less customer 4; dim: migrate
    # customer 4 b->c.
    fact.merge(
        spark.createDataFrame([(17, 3, 4, 6.0)], fschema),
        removed=spark.createDataFrame([(10,), (11,)], "fk long"),
    )
    dim.merge(
        spark.createDataFrame([(4, 3, "c")], dschema),
        removed=spark.createDataFrame([], "dk long"),
    )

    def scratch(v):
        return {
            r.grp: (r.n, r.s)
            for r in fact.read(version=v)
            .join(dim.read(version=v).select("dk", "grp"),
                  F.col("cust") == F.col("dk"))
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("price") * 100).cast("long")).alias("s"))
            .collect()
        }

    def as_dict(df):
        return {r.grp: (r.n, r.s) for r in df.collect()}

    c1 = maintain_joined_agg(
        fact, dim, 1, 2, fact_key_col="cust", dim_key_col="dk",
        group_col="grp", cents_col="price",
    ).localCheckpoint(eager=False)
    assert as_dict(c1) == scratch(2)
    c2 = maintain_joined_agg(
        fact, dim, 2, 3, fact_key_col="cust", dim_key_col="dk",
        group_col="grp", cents_col="price", old_view=c1,
    )
    assert as_dict(c2) == scratch(3)


def _joined_stores(spark, tmp_path):
    """The joined-agg test's two-store scenario (see
    test_maintain_joined_agg_chained_equals_scratch for the window
    narrative) — shared by the min/max composition tests. Window
    1->2's dim migration of customer 2 (a->b) retires group a's MIN
    (its fact 12 holds val 1.0) with NO fact delete — the exact case
    neither parent algebra covers alone."""
    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=4,
    )
    fschema = "fk long, v int, cust long, price double"
    dschema = "dk long, v int, grp string"
    dim.overwrite(spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "a"), (3, 1, "b"), (4, 1, "b")], dschema))
    fact.overwrite(spark.createDataFrame(
        [(10, 1, 1, 5.0), (11, 1, 1, 7.0), (12, 1, 2, 1.0),
         (13, 1, 3, 2.0), (14, 1, 3, 4.0), (15, 1, 5, 9.0)], fschema))
    fact.merge(
        spark.createDataFrame([(11, 2, 1, 20.0), (16, 2, 2, 3.0)], fschema),
        removed=spark.createDataFrame([(13,)], "fk long"),
    )
    dim.merge(
        spark.createDataFrame([(2, 2, "b"), (5, 2, "c")], dschema),
        removed=spark.createDataFrame([(3,)], "dk long"),
    )
    fact.merge(
        spark.createDataFrame([(17, 3, 4, 6.0)], fschema),
        removed=spark.createDataFrame([(10,), (11,)], "fk long"),
    )
    dim.merge(
        spark.createDataFrame([(4, 3, "c")], dschema),
        removed=spark.createDataFrame([], "dk long"),
    )
    return fact, dim


def test_maintain_joined_min_max_chained_equals_scratch(spark, tmp_path):
    """The composed algebras (r10 verdict #5): (n, s, min, max) over
    a joined view with both stores changing, chained over two windows
    with old_view feedback — every step must land on the from-scratch
    F(v) join D(v) aggregate. Window 1->2 exercises the dim-move
    extremum retirement (customer 2's migration takes group a's min
    value 1.0 away with no fact delete) AND a fact-update extremum
    improvement (11: 7->20 becomes a's new max); window 2->3 empties
    group a entirely and moves a freshly-facted key b->c."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_joined_min_max,
    )

    fact, dim = _joined_stores(spark, tmp_path)

    def scratch(v):
        cents = F.round(F.col("price") * 100).cast("long")
        return {
            r.grp: (r.n, r.s, r.min_c, r.max_c)
            for r in fact.read(version=v)
            .join(dim.read(version=v).select("dk", "grp"),
                  F.col("cust") == F.col("dk"))
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("s"),
                 F.min(cents).alias("min_c"), F.max(cents).alias("max_c"))
            .collect()
        }

    def as_dict(df):
        return {r.grp: (r.n, r.s, r.min_c, r.max_c) for r in df.collect()}

    c1 = maintain_joined_min_max(
        fact, dim, 1, 2, fact_key_col="cust", dim_key_col="dk",
        group_col="grp", cents_col="price",
    ).localCheckpoint(eager=False)
    assert as_dict(c1) == scratch(2)
    assert scratch(2) == {
        # a: cust 1 only -> {5, 20}; the move retired min 1.0.
        "a": (2, 2500, 500, 2000),
        # b: cust 2 {1, 3} + cust 4 (factless).
        "b": (2, 400, 100, 300),
        # c: cust 5's pre-existing fact 15.
        "c": (1, 900, 900, 900),
    }
    c2 = maintain_joined_min_max(
        fact, dim, 2, 3, fact_key_col="cust", dim_key_col="dk",
        group_col="grp", cents_col="price", old_view=c1,
    )
    assert as_dict(c2) == scratch(3)
    # Full-window single application agrees too.
    full = maintain_joined_min_max(
        fact, dim, 1, 3, fact_key_col="cust", dim_key_col="dk",
        group_col="grp", cents_col="price",
    )
    assert as_dict(full) == scratch(3)


def test_maintain_joined_agg_null_group_pairs_terms(spark, tmp_path):
    """r10 verdict #4: a NULL grouping attribute is ONE group. The
    window moves a key INTO the NULL group, changes facts under a key
    that STAYS in it, and the three-way combine must pair the NULL
    group's old count, fact delta and dim move on a single output row
    (plain equality would emit three)."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_joined_agg,
        maintain_joined_min_max,
    )

    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=4,
    )
    fschema = "fk long, v int, cust long, price double"
    dschema = "dk long, v int, grp string"
    # v1: customer 1 has NO group (NULL), 2 in "a", 3 in "b".
    dim.overwrite(spark.createDataFrame(
        [(1, 1, None), (2, 1, "a"), (3, 1, "b")], dschema))
    fact.overwrite(spark.createDataFrame(
        [(10, 1, 1, 5.0), (11, 1, 2, 7.0), (12, 1, 3, 2.0)], fschema))
    # window: fact insert under the NULL-group key 1; dim moves key 3
    # INTO the NULL group and key 2 stays put.
    fact.merge(spark.createDataFrame([(13, 2, 1, 1.0)], fschema))
    dim.merge(spark.createDataFrame([(3, 2, None)], dschema))

    out = {
        r.grp: (r.n, r.s)
        for r in maintain_joined_agg(
            fact, dim, 1, 2, fact_key_col="cust", dim_key_col="dk",
            group_col="grp", cents_col="price",
        ).collect()
    }
    # ONE row for the NULL group carrying all three contributions:
    # old fact 10 (500) + inserted 13 (100) + moved-in key 3's 12 (200).
    assert out == {None: (3, 800), "a": (1, 700)}

    mm = {
        r.grp: (r.n, r.s, r.min_c, r.max_c)
        for r in maintain_joined_min_max(
            fact, dim, 1, 2, fact_key_col="cust", dim_key_col="dk",
            group_col="grp", cents_col="price",
        ).collect()
    }
    assert mm == {None: (3, 800, 100, 500), "a": (1, 700, 700, 700)}


def _hist_scratch(store, version):
    return {
        (r.grp, r.val): r.c
        for r in store.read(version=version)
        .groupBy("grp", "val")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }


def test_value_counts_histogram_equals_scratch_all_branches(spark, tmp_path):
    """The histogram algebra is CLOSED under deletes (unlike min/max):
    inserts bump bins, deletes decrement them, a bin whose last row
    departs vanishes, an update moves one multiplicity between bins —
    all in one feed-sized pass, bit-equal to a from-scratch
    groupBy(group, value).count() of the post state."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_value_counts,
    )

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(
        _df(
            spark,
            [
                # A: val 1 ×2, val 5 ×1   B: val 10 ×1   NULL group: 3
                ("a1", 1, "A", 1), ("a2", 1, "A", 1), ("a3", 1, "A", 5),
                ("b1", 1, "B", 10), ("n1", 1, None, 3),
            ],
        )
    )
    # v2: delete one of A's val-1 rows (bin survives at 1), delete
    # A's val-5 row (bin vanishes), move b1 10 -> 11 (update shifts a
    # multiplicity across bins), insert a NULL-group row (NULL group
    # maintains like any other), insert a NULL VALUE bin.
    store.merge(
        _df(spark, [("b1", 2, "B", 11), ("n2", 2, None, 3), ("z1", 2, "A", None)]),
        removed=spark.createDataFrame([("a2",), ("a3",)], "k string"),
    )

    hist = {
        (r.grp, r.val): r.c
        for r in maintain_value_counts(store, 1, 2, ["grp"], "val").collect()
    }
    assert hist == _hist_scratch(store, 2)
    assert hist[("A", 1)] == 1 and ("A", 5) not in hist
    assert ("B", 10) not in hist and hist[("B", 11)] == 1
    assert hist[(None, 3)] == 2 and hist[("A", None)] == 1


def test_value_counts_chained_feedback_never_rescans_base(spark, tmp_path):
    """Steady state: cycle 2 maintains from cycle 1's output
    (old_hist feedback) — the base is read only by the first
    derivation, and the chained result still equals scratch."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_value_counts,
    )

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(
        _df(spark, [("a1", 1, "A", 1), ("a2", 1, "A", 2), ("b1", 1, "B", 2)])
    )
    store.merge(_df(spark, [("a3", 2, "A", 2)]))  # v2
    store.merge(  # v3: retire A's val-1 bin, add B val-9
        _df(spark, [("b2", 3, "B", 9)]),
        removed=spark.createDataFrame([("a1",)], "k string"),
    )
    versioned_reads = []
    orig_read = store.read

    def counting_read(version=None):
        if version is not None:
            versioned_reads.append(version)
        return orig_read(version=version)

    store.read = counting_read
    try:
        c1 = maintain_value_counts(store, 1, 2, ["grp"], "val")
        c2 = maintain_value_counts(store, 2, 3, ["grp"], "val", old_hist=c1)
        got = {(r.grp, r.val): r.c for r in c2.collect()}
    finally:
        del store.read
    assert got == _hist_scratch(store, 3)
    assert versioned_reads == [1]  # only cycle 1's first derivation


def test_histogram_stats_median_mode_distinct(spark):
    """histogram_stats serves the holistic aggregates exactly from the
    bins: interpolated median (even AND odd totals), deterministic
    smallest-value mode tiebreak, exact distinct count."""
    from fs_indexer_elasticsearch_spark.operators.ivm import histogram_stats

    hist = spark.createDataFrame(
        [
            # A: values 1×2, 5×1, 9×1  -> n=4, median (1+5)/2=3.0,
            #    mode tie (c=2 max once) -> 1; n_distinct=3
            ("A", 1, 2), ("A", 5, 1), ("A", 9, 1),
            # B: 10×1, 20×1, 30×3 -> n=5, median=30 (3rd of 5 is 30? cum:
            #    10:1, 20:2, 30:5 -> lo=hi=3 -> 30.0), mode=30
            ("B", 10, 1), ("B", 20, 1), ("B", 30, 3),
            # C: tie on max count (2 and 7 both ×2): mode -> 2
            ("C", 7, 2), ("C", 2, 2),
        ],
        "grp string, val int, c long",
    )
    got = {
        r.grp: (r.n, r.n_distinct, r.mode_v, r.median_v)
        for r in histogram_stats(hist, ["grp"], "val").collect()
    }
    assert got["A"] == (4, 3, 1, 3.0)
    assert got["B"] == (5, 3, 30, 30.0)
    assert got["C"] == (4, 2, 2, 4.5)  # median (2+7)/2


def test_histogram_stats_quantiles_match_percentile_cont(spark):
    """The weighted-bin quantile interpolation must equal Spark's own
    exact percentile() over the EXPLODED rows (percentile_cont
    definition) for every parity of n and awkward fraction."""
    from fs_indexer_elasticsearch_spark.operators.ivm import histogram_stats

    rows = (
        [("A", v) for v in [1, 1, 5, 9, 12, 12, 12, 40]]  # n=8
        + [("B", v) for v in [3, 7, 7, 100, 101]]  # n=5
        + [("C", v) for v in [6]]  # n=1
    )
    raw = spark.createDataFrame(rows, "grp string, val int")
    hist = raw.groupBy("grp", "val").agg(F.count(F.lit(1)).alias("c"))
    qs = {"p25": 0.25, "p50": 0.5, "p90": 0.9, "p99": 0.99}
    got = {
        r.grp: {k: r[k] for k in qs}
        for r in histogram_stats(hist, ["grp"], "val", quantiles=qs).collect()
    }
    want = {
        r.grp: {f"p{int(q * 100)}": r[f"p{int(q * 100)}"] for q in qs.values()}
        for r in raw.groupBy("grp")
        .agg(
            *[
                F.percentile("val", F.lit(q)).alias(f"p{int(q * 100)}")
                for q in qs.values()
            ]
        )
        .collect()
    }
    for grp in want:
        for k in qs:
            assert abs(got[grp][k] - want[grp][k]) < 1e-9, (grp, k, got, want)
    # p50 agrees with the built-in median column too.
    med = {
        r.grp: r.median_v
        for r in histogram_stats(hist, ["grp"], "val").collect()
    }
    for grp in want:
        assert abs(med[grp] - want[grp]["p50"]) < 1e-9


def _topk_scratch(store, version, k):
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(F.desc("val"))
    return {
        r.grp: (r.n, tuple(r.topk))
        for r in store.read(version=version)
        .withColumn("_rk", F.row_number().over(w))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.reverse(
                F.array_sort(
                    F.collect_list(F.when(F.col("_rk") <= k, F.col("val")))
                )
            ).alias("topk"),
        )
        .collect()
    }


def test_top_k_all_branches_equal_scratch(spark, tmp_path):
    """Top-k IVM across every branch: pure-add merge, below-horizon
    removal (pure delta, only n moves), horizon-tying removal
    (recompute), group smaller than k (any removal recomputes), new
    group, vanished group, NULL group — all equal a from-scratch
    ranked top-k of the post state."""
    from fs_indexer_elasticsearch_spark.operators.ivm import maintain_top_k

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(
        _df(
            spark,
            [
                # A: 1,3,5,7,9 (top-3 = 9,7,5; horizon 5)
                ("a1", 1, "A", 1), ("a2", 1, "A", 3), ("a3", 1, "A", 5),
                ("a4", 1, "A", 7), ("a5", 1, "A", 9),
                # B: 10,20 (n < k: everything stored)
                ("b1", 1, "B", 10), ("b2", 1, "B", 20),
                # C: vanishes entirely
                ("c1", 1, "C", 4),
                # NULL group: 2,6
                ("n1", 1, None, 2), ("n2", 1, None, 6),
            ],
        )
    )
    # v2: A gains 8 (pure add into top-3), loses a2=3 (below horizon
    # 5 -> pure delta), B loses b1=10 (n<k -> recompute), C's only
    # row departs (group vanishes), NULL group gains 11 (add) and a
    # new group D appears.
    store.merge(
        _df(spark, [("a6", 2, "A", 8), ("n3", 2, None, 11), ("d1", 2, "D", 1)]),
        removed=spark.createDataFrame([("a2",), ("b1",), ("c1",)], "k string"),
    )
    got = {
        r.grp: (r.n, tuple(r.topk))
        for r in maintain_top_k(store, 1, 2, ["grp"], "val", 3).collect()
    }
    assert got == _topk_scratch(store, 2, 3)
    assert got["A"] == (5, (9, 8, 7))
    assert got["B"] == (1, (20,))
    assert "C" not in got
    assert got[None] == (3, (11, 6, 2))
    assert got["D"] == (1, (1,))

    # v3: remove A's max 9 (horizon-beating -> recompute) and chain
    # with old_view feedback: still equals scratch, zero base reads
    # on the kept branch... the recompute branch reads v3 only.
    store.merge(
        _df(spark, [("b3", 3, "B", 15)]),
        removed=spark.createDataFrame([("a5",)], "k string"),
    )
    c1 = maintain_top_k(store, 1, 2, ["grp"], "val", 3)
    got3 = {
        r.grp: (r.n, tuple(r.topk))
        for r in maintain_top_k(
            store, 2, 3, ["grp"], "val", 3, old_view=c1
        ).collect()
    }
    assert got3 == _topk_scratch(store, 3, 3)
    assert got3["A"] == (4, (8, 7, 5))
    assert got3["B"] == (2, (20, 15))


def test_top_k_k1_degenerates_to_max(spark, tmp_path):
    """k=1 is the max view: same membership decisions as
    maintain_min_max's max side on the same window."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_min_max,
        maintain_top_k,
    )

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    store.overwrite(
        _df(spark, [("a1", 1, "A", 1), ("a2", 1, "A", 9), ("b1", 1, "B", 5)])
    )
    store.merge(
        _df(spark, [("b2", 2, "B", 7)]),
        removed=spark.createDataFrame([("a2",)], "k string"),
    )
    tk = {
        r.grp: (r.n, r.topk[0])
        for r in maintain_top_k(store, 1, 2, ["grp"], "val", 1).collect()
    }
    mm = {
        r.grp: (r.n, r.max_v)
        for r in maintain_min_max(store, 1, 2, ["grp"], "val").collect()
    }
    assert tk == mm == {"A": (1, 1), "B": (2, 7)}


def test_moments_closed_under_deletes_and_overflow_safe(spark, tmp_path):
    """(n, s, s2) maintenance equals scratch through adds, updates,
    deletes, vanished and new and NULL groups — no recompute branch —
    and the decimal(38,0) accumulators survive values whose LONG sum
    of squares would wrap: 20 rows of 4e9 -> s2 = 3.2e20 > 2^63."""
    from decimal import Decimal

    from fs_indexer_elasticsearch_spark.operators.ivm import maintain_moments

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    big = 4_000_000_000  # square = 1.6e19 > 2^63 on its own
    df = spark.createDataFrame(
        [(f"a{i}", 1, "A", big) for i in range(20)]
        + [("b1", 1, "B", 10), ("b2", 1, "B", 20), ("c1", 1, "C", 5),
           ("n1", 1, None, 7)],
        "k string, v int, grp string, val long",
    )
    store.overwrite(df)
    store.merge(
        spark.createDataFrame(
            [("a0", 2, "A", big - 1), ("d1", 2, "D", 3), ("n2", 2, None, 9)],
            "k string, v int, grp string, val long",
        ),
        removed=spark.createDataFrame([("b1",), ("c1",)], "k string"),
    )

    got = {
        r.grp: (r.n, r.s, r.s2)
        for r in maintain_moments(store, 1, 2, ["grp"], "val").collect()
    }
    want = {
        r.grp: (r.n, r.s, r.s2)
        for r in store.read(version=2)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
            F.sum(
                (F.col("val").cast("decimal(19,0)") * F.col("val").cast("decimal(19,0)")).cast("decimal(38,0)")
            ).cast("decimal(38,0)").alias("s2"),
        )
        .collect()
    }
    assert got == want
    assert "C" not in got
    assert got["A"][0] == 20
    # The headline: s2 beyond long range, held exactly.
    assert got["A"][2] == Decimal(19 * big * big + (big - 1) ** 2)
    assert got[None] == (2, Decimal(16), Decimal(49 + 81))

    # Chained feedback equals scratch with zero base rescans.
    store.merge(
        spark.createDataFrame(
            [("b3", 3, "B", 30)], "k string, v int, grp string, val long"
        ),
        removed=spark.createDataFrame([("a1",)], "k string"),
    )
    versioned_reads = []
    orig_read = store.read

    def counting_read(version=None):
        if version is not None:
            versioned_reads.append(version)
        return orig_read(version=version)

    store.read = counting_read
    try:
        c1 = maintain_moments(store, 1, 2, ["grp"], "val")
        got3 = {
            r.grp: (r.n, r.s, r.s2)
            for r in maintain_moments(
                store, 2, 3, ["grp"], "val", old_view=c1
            ).collect()
        }
    finally:
        del store.read
    want3 = {
        r.grp: (r.n, r.s, r.s2)
        for r in orig_read(version=3)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
            F.sum(
                (F.col("val").cast("decimal(19,0)") * F.col("val").cast("decimal(19,0)")).cast("decimal(38,0)")
            ).cast("decimal(38,0)").alias("s2"),
        )
        .collect()
    }
    assert got3 == want3
    assert versioned_reads == [1]  # only cycle 1's derivation


@pytest.mark.parametrize(
    "seed", [7, pytest.param(23, marks=pytest.mark.slow)]
)
def test_ivm_model_random_program_all_maintainers(spark, tmp_path, seed):
    """Model-based IVM check (the store-model idiom applied to the
    view algebra): a seeded random program of merges (upserts +
    deletions over a small colliding key/group/value space) drives
    FOUR maintained views — min/max, value-count histogram, top-3,
    moments — each chained on its own previous output, and after
    every cycle each view must equal the from-scratch aggregate of
    the post state. The interleavings that break IVM (an update that
    is simultaneously a horizon removal and a new-bin insert, a group
    vanishing and reappearing within one window, NULL groups crossing
    the combine) arise from the seed, not from hand-written cases.

    Every view is maintained twice: grouped by ``grp`` alone, and by
    ``(grp, sub)``, where both columns take NULLs, so the null-safe
    combine and the recompute's group semi-join run on several
    columns. The second min/max view also carries ``with_sum``. Each
    view's schema is pinned: counts are long, extrema and top-k keep
    the measure's type, moments are ``decimal(38,0)``."""
    import random as _random

    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_min_max,
        maintain_moments,
        maintain_top_k,
        maintain_value_counts,
    )

    rng = _random.Random(seed)
    # A separate stream for the second group column keeps the
    # one-column program identical for a given seed.
    sub_rng = _random.Random(seed + 1000)
    keys = [f"k{i:02d}" for i in range(18)]
    groups = ["A", "B", None]
    subs = ["x", "y", None]
    schema = "k string, v int, grp string, sub string, val int"
    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v", num_buckets=4
    )
    live = {}

    def batch_rows(ver):
        rows = []
        for k in rng.sample(keys, rng.randint(2, 8)):
            g_, val = rng.choice(groups), rng.randint(0, 9)
            rows.append((k, ver, g_, sub_rng.choice(subs), val))
        return rows

    rows0 = batch_rows(1)
    store.overwrite(spark.createDataFrame(rows0, schema))
    for k, v, g_, sub, val in rows0:
        live[k] = (g_, sub, val)

    gsets = {"g1": ["grp"], "g2": ["grp", "sub"]}
    views = {
        (gs, name): None
        for gs in gsets
        for name in ("mm", "hist", "topk", "mom")
    }
    want_types = {
        "mm": {"n": "bigint", "min_v": "int", "max_v": "int"},
        "hist": {"val": "int", "c": "bigint"},
        "topk": {"n": "bigint", "topk": "array<int>"},
        "mom": {"n": "bigint", "s": "decimal(38,0)", "s2": "decimal(38,0)"},
    }
    for cycle in range(2, 6):
        rows = batch_rows(cycle)
        removable = [k for k in live if k not in {r[0] for r in rows}]
        removed = (
            rng.sample(removable, min(len(removable), rng.randint(0, 4)))
            if removable
            else []
        )
        store.merge(
            spark.createDataFrame(rows, schema),
            removed=spark.createDataFrame([(k,) for k in removed], "k string")
            if removed
            else None,
        )
        for k, v, g_, sub, val in rows:
            live[k] = (g_, sub, val)
        for k in removed:
            live.pop(k, None)

        vf, vt = cycle - 1, cycle
        for gs, gcols in gsets.items():
            views[gs, "mm"] = maintain_min_max(
                store, vf, vt, gcols, "val", old_view=views[gs, "mm"],
                with_sum=gs == "g2",
            ).localCheckpoint(eager=False)
            views[gs, "hist"] = maintain_value_counts(
                store, vf, vt, gcols, "val", old_hist=views[gs, "hist"]
            ).localCheckpoint(eager=False)
            views[gs, "topk"] = maintain_top_k(
                store, vf, vt, gcols, "val", 3, old_view=views[gs, "topk"]
            ).localCheckpoint(eager=False)
            views[gs, "mom"] = maintain_moments(
                store, vf, vt, gcols, "val", old_view=views[gs, "mom"]
            ).localCheckpoint(eager=False)

            def gk(r):
                return tuple(r[c] for c in gcols)

            types = {
                name: {
                    f.name: f.dataType.simpleString()
                    for f in views[gs, name].schema.fields
                }
                for name in want_types
            }
            for name, want in want_types.items():
                assert list(types[name])[: len(gcols)] == gcols, (gs, name)
                assert {c: types[name][c] for c in want} == want, (gs, name)
            if gs == "g2":
                assert types["mm"]["s"] == "bigint"

            # Pure-python scratch model from `live`.
            by_grp = {}
            for k, (g_, sub, val) in live.items():
                key = (g_,) if gs == "g1" else (g_, sub)
                by_grp.setdefault(key, []).append(val)
            got_mm = {
                gk(r): (r.n, r.min_v, r.max_v)
                + ((r.s,) if gs == "g2" else ())
                for r in views[gs, "mm"].collect()
            }
            want_mm = {
                g_: (len(vs), min(vs), max(vs))
                + ((sum(vs),) if gs == "g2" else ())
                for g_, vs in by_grp.items()
            }
            assert got_mm == want_mm, f"{gs} min/max diverged at cycle {cycle}"

            got_h = {
                (gk(r), r.val): r.c for r in views[gs, "hist"].collect()
            }
            want_h = {}
            for g_, vs in by_grp.items():
                for v_ in vs:
                    want_h[(g_, v_)] = want_h.get((g_, v_), 0) + 1
            assert got_h == want_h, f"{gs} histogram diverged at cycle {cycle}"

            got_tk = {
                gk(r): (r.n, tuple(r.topk))
                for r in views[gs, "topk"].collect()
            }
            want_tk = {
                g_: (len(vs), tuple(sorted(vs, reverse=True)[:3]))
                for g_, vs in by_grp.items()
            }
            assert got_tk == want_tk, f"{gs} top-k diverged at cycle {cycle}"

            got_mom = {
                gk(r): (r.n, int(r.s), int(r.s2))
                for r in views[gs, "mom"].collect()
            }
            want_mom = {
                g_: (len(vs), sum(vs), sum(v_ * v_ for v_ in vs))
                for g_, vs in by_grp.items()
            }
            assert got_mom == want_mom, f"{gs} moments diverged at cycle {cycle}"


def test_joined_value_counts_both_sides_change_equals_scratch(spark, tmp_path):
    """Joined histogram through fact AND dim changes: fact adds/
    removes move bins under yesterday's grouping, dim re-groupings
    move whole per-key value multisets between groups, dim deletes
    withdraw them, dim inserts surface facts that were dark — the
    final bins must equal a from-scratch rejoin, and chaining on
    old_hist feedback must too."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_joined_value_counts,
    )

    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=2,
    )
    FSCH = "fk string, v int, cust string, val int"
    DSCH = "dk string, v int, seg string"
    fact.overwrite(
        spark.createDataFrame(
            [
                ("f1", 1, "c1", 5), ("f2", 1, "c1", 5), ("f3", 1, "c2", 7),
                ("f4", 1, "c3", 9),  # c3 is dark at v1 (no dim row)
                ("f5", 1, "c4", 2),
            ],
            FSCH,
        )
    )
    dim.overwrite(
        spark.createDataFrame(
            [("c1", 1, "A"), ("c2", 1, "A"), ("c4", 1, "B")], DSCH
        )
    )
    # Window: fact adds f6 (c2, 7) and removes f2; dim re-groups c2
    # A -> B (its value multiset {7,7} moves), inserts c3 (f4's 9
    # surfaces in B), deletes c4 (f5's 2 withdraws).
    fact.merge(
        spark.createDataFrame([("f6", 2, "c2", 7)], FSCH),
        removed=spark.createDataFrame([("f2",)], "fk string"),
    )
    dim.merge(
        spark.createDataFrame([("c2", 2, "B"), ("c3", 2, "B")], DSCH),
        removed=spark.createDataFrame([("c4",)], "dk string"),
    )

    def scratch():
        return {
            (r.seg, r.val): r.c
            for r in fact.read()
            .join(dim.read(), F.col("cust") == F.col("dk"))
            .groupBy("seg", "val")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    got = {
        (r.seg, r.val): r.c
        for r in maintain_joined_value_counts(
            fact, dim, 1, 2,
            fact_key_col="cust", dim_key_col="dk",
            group_col="seg", value_col="val",
        ).collect()
    }
    assert got == scratch() == {
        ("A", 5): 1,          # f2's 5 removed, f1 stays
        ("B", 7): 2,          # c2's multiset moved A -> B (f3 + f6)
        ("B", 9): 1,          # c3 surfaced
    }

    # Second window: fact removes f1 (A's last bin vanishes -> group
    # gone), dim re-groups c1 back... chain on feedback.
    fact.merge(
        spark.createDataFrame([("f7", 3, "c3", 9)], FSCH),
        removed=spark.createDataFrame([("f1",)], "fk string"),
    )
    dim.merge(spark.createDataFrame([("c1", 3, "B")], DSCH))
    c1 = maintain_joined_value_counts(
        fact, dim, 1, 2,
        fact_key_col="cust", dim_key_col="dk",
        group_col="seg", value_col="val",
    )
    got3 = {
        (r.seg, r.val): r.c
        for r in maintain_joined_value_counts(
            fact, dim, 2, 3,
            fact_key_col="cust", dim_key_col="dk",
            group_col="seg", value_col="val",
            old_hist=c1,
        ).collect()
    }
    assert got3 == scratch() == {("B", 7): 2, ("B", 9): 2}


def test_hll_distinct_union_equals_scratch_and_refuses_deletes(
    spark, tmp_path
):
    """The maintained HLL sketch's estimate is bit-identical to a
    from-scratch sketch of the post state on insert-only windows
    (union is register-wise max), chains on feedback, and a window
    containing ANY removal raises loudly (registers cannot forget —
    silent over-count is the one sketch failure a consumer cannot
    detect)."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_hll_distinct,
    )

    store = SnapshotStore(
        spark, str(tmp_path / "snap"), key="k", version_col="v",
        num_buckets=4,
    )
    rows1 = [(f"k{i}", 1, "A" if i % 2 else "B", i) for i in range(200)]
    store.overwrite(_df(spark, rows1))
    rows2 = [(f"n{i}", 2, "A", i) for i in range(50)]
    store.merge(_df(spark, rows2))  # v2: insert-only
    c1 = maintain_hll_distinct(store, 1, 2, ["grp"], "k")
    got = {
        r.grp: r.est
        for r in c1.select(
            "grp", F.hll_sketch_estimate("sk").alias("est")
        ).collect()
    }
    want = {
        r.grp: r.est
        for r in store.read(version=2)
        .groupBy("grp")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("k")).alias("est"))
        .collect()
    }
    assert got == want  # bit-identical estimates, not merely close

    # Chained feedback across a second insert-only window.
    store.merge(_df(spark, [(f"m{i}", 3, "C", i) for i in range(20)]))
    got3 = {
        r.grp: r.est
        for r in maintain_hll_distinct(
            store, 2, 3, ["grp"], "k", old_sketches=c1
        )
        .select("grp", F.hll_sketch_estimate("sk").alias("est"))
        .collect()
    }
    want3 = {
        r.grp: r.est
        for r in store.read(version=3)
        .groupBy("grp")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("k")).alias("est"))
        .collect()
    }
    assert got3 == want3 and "C" in got3

    # A delete-bearing window is refused loudly.
    store.merge(
        _df(spark, [("z1", 4, "A", 1)]),
        removed=spark.createDataFrame([("k0",)], "k string"),
    )
    with pytest.raises(ValueError, match="cannot forget"):
        maintain_hll_distinct(store, 3, 4, ["grp"], "k")


def test_join_membership_all_transitions_equal_scratch(spark, tmp_path):
    """Semi/anti partition maintenance (maintain_join_membership):
    every transition direction in one chained program — dim-key
    disappearance ORPHANS rows the view holds, reappearance flips
    them back, fact updates re-enter through the add path, a NULL
    fact key stays unmatched forever, and a brand-new fact key
    classifies against the dim post state. Window 2 consumes window
    1's output (old_view feedback); both windows must equal the
    from-scratch left-join partition of the post state."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_join_membership,
    )

    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=4,
    )
    fschema = "fk long, v int, cust long, price double"
    dschema = "dk long, v int, attr string"
    # v1: dim has customers 1,2,3; facts reference 1,2,4 (4 = orphan)
    # plus one NULL-key fact (never matches anything).
    dim.overwrite(spark.createDataFrame(
        [(1, 1, "x"), (2, 1, "x"), (3, 1, "x")], dschema))
    fact.overwrite(spark.createDataFrame(
        [(10, 1, 1, 5.0), (11, 1, 2, 7.0), (12, 1, 4, 1.0),
         (13, 1, None, 2.0)], fschema))
    # window 1->2: dim: DELETE 2 (fact 11 becomes an orphan in place),
    # INSERT 4 (orphan 12 flips back), update 3's attr (no membership
    # change); fact: update 10 (re-enters via add path), insert 14
    # with brand-new key 9 (unmatched — classifies against dim post
    # state), delete 13's sibling? keep 13 (NULL key persists).
    dim.merge(
        spark.createDataFrame([(4, 2, "y"), (3, 2, "z")], dschema),
        removed=spark.createDataFrame([(2,)], "dk long"),
    )
    fact.merge(
        spark.createDataFrame([(10, 2, 1, 6.0), (14, 2, 9, 3.0)], fschema),
        removed=spark.createDataFrame([], "fk long"),
    )
    # window 2->3: dim: re-insert 2 (11 un-orphans), delete 1; fact:
    # delete 12, re-insert 13's NULL row sibling as key-bearing row
    # 15 (cust 1 — newly orphaned key), update 14 -> cust 4 (an
    # UPDATE that changes the join key: old flag must not leak).
    dim.merge(
        spark.createDataFrame([(2, 3, "w")], dschema),
        removed=spark.createDataFrame([(1,)], "dk long"),
    )
    fact.merge(
        spark.createDataFrame([(15, 3, 1, 8.0), (14, 3, 4, 3.5)], fschema),
        removed=spark.createDataFrame([(12,)], "fk long"),
    )

    def scratch(v):
        f = fact.read(version=v).drop("_bucket")
        d = dim.read(version=v).select(F.col("dk"), F.lit(True).alias("m"))
        return {
            r.fk: (r.cust, r.price, r.matched)
            for r in f.join(d, F.col("cust") == F.col("dk"), "left")
            .withColumn("matched", F.coalesce("m", F.lit(False)))
            .collect()
        }

    def as_dict(df):
        return {r.fk: (r.cust, r.price, r.matched) for r in df.collect()}

    w1 = maintain_join_membership(
        fact, dim, 1, 2, fact_key_col="cust", dim_key_col="dk"
    ).localCheckpoint()
    got1 = as_dict(w1)
    assert got1 == scratch(2)
    # spot-check the interesting flips
    assert got1[11][2] is False  # dim delete orphaned it in place
    assert got1[12][2] is True   # dim insert retired the orphan
    assert got1[13][2] is False  # NULL key never matches
    assert got1[14][2] is False  # new key 9 absent from dim post state

    w2 = maintain_join_membership(
        fact, dim, 2, 3, fact_key_col="cust", dim_key_col="dk",
        old_view=w1,
    )
    got2 = as_dict(w2)
    assert got2 == scratch(3)
    assert got2[11][2] is True   # re-inserted dim key flipped it back
    assert got2[10][2] is False  # dim delete of key 1
    assert got2[14][2] is True   # key-changing update classified fresh
    assert 12 not in got2        # fact delete left the view


def test_rollup_cascade_chained_equals_scratch(spark, tmp_path):
    """Day→month cascade (maintain_rollup_cascade): two chained
    windows with both views fed back; at each step both grains must
    equal a from-scratch post-state aggregate, through inserts that
    create a new day inside an existing month, a brand-new month, an
    update that moves value between rows within a day, and deletes
    that empty a day (the day row must vanish while its month
    shrinks but survives)."""
    import datetime as dt

    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_rollup_cascade,
    )

    store = SnapshotStore(
        spark, str(tmp_path / "casc"), key="k", version_col="v",
        num_buckets=4,
    )
    sch = "k long, v int, day date, cents long"
    d = lambda s: dt.date.fromisoformat(s)  # noqa: E731
    store.overwrite(spark.createDataFrame(
        [(1, 1, d("2024-01-05"), 100), (2, 1, d("2024-01-05"), 40),
         (3, 1, d("2024-01-20"), 7), (4, 1, d("2024-02-10"), 55)], sch))
    # w1: insert new day in Jan (k5), brand-new month Mar (k6),
    # update k2 (40->90), delete k3 (day 01-20 empties, Jan shrinks).
    store.merge(
        spark.createDataFrame(
            [(5, 2, d("2024-01-09"), 11), (6, 2, d("2024-03-01"), 13),
             (2, 2, d("2024-01-05"), 90)], sch),
        removed=spark.createDataFrame([(3,)], "k long"),
    )
    # w2: delete BOTH 01-05 rows and k5 (January empties entirely),
    # insert another Feb day.
    store.merge(
        spark.createDataFrame([(7, 3, d("2024-02-28"), 2)], sch),
        removed=spark.createDataFrame([(1,), (2,), (5,)], "k long"),
    )

    def scratch(v, grain_expr, name):
        return {
            r[name]: (r.n, r.s)
            for r in store.read(version=v)
            .groupBy(grain_expr.alias(name))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("cents").cast("long").alias("s"))
            .collect()
        }

    month_of = lambda c: F.trunc(c, "month")  # noqa: E731
    as_d = lambda df, g: {r[g]: (r.n, r.s) for r in df.collect()}  # noqa: E731

    f1, c1 = maintain_rollup_cascade(
        store, 1, 2, fine_col="day", coarse_col="month",
        coarse_of=month_of, value_col="cents",
    )
    f1, c1 = f1.localCheckpoint(), c1.localCheckpoint()
    assert as_d(f1, "day") == scratch(2, F.col("day"), "day")
    assert as_d(c1, "month") == scratch(2, month_of(F.col("day")), "month")
    assert d("2024-01-20") not in as_d(f1, "day")  # emptied day dropped

    f2, c2 = maintain_rollup_cascade(
        store, 2, 3, fine_col="day", coarse_col="month",
        coarse_of=month_of, value_col="cents",
        old_fine=f1, old_coarse=c1,
    )
    got_f2, got_c2 = as_d(f2, "day"), as_d(c2, "month")
    assert got_f2 == scratch(3, F.col("day"), "day")
    assert got_c2 == scratch(3, month_of(F.col("day")), "month")
    assert d("2024-01-01") not in got_c2  # month emptied by day deletes


def test_maintain_cms_turnstile_equals_scratch(spark, tmp_path):
    """Maintained count-min sketch: two chained windows with cell
    feedback; the maintained cells must BIT-EQUAL a from-scratch
    sketch of the post state at each step — through inserts, an
    update that leaves the key unchanged (net-zero cell delta), an
    update that MOVES a key, and deletes (the turnstile property HLL
    lacks). Estimates read from the maintained cells must keep the
    one-sided guarantee."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        cms_bucket,
        maintain_cms,
    )

    W, D = 16, 3  # tiny width forces real collisions
    store = SnapshotStore(
        spark, str(tmp_path / "cms"), key="k", version_col="v", num_buckets=4
    )
    sch = "k long, v int, cust long"
    store.overwrite(spark.createDataFrame(
        [(1, 1, 100), (2, 1, 100), (3, 1, 200), (4, 1, 300)], sch))
    # w1: insert two more 100s, move k3 200->300, delete k4 (a 300).
    store.merge(
        spark.createDataFrame([(5, 2, 100), (6, 2, 100), (3, 2, 300)], sch),
        removed=spark.createDataFrame([(4,)], "k long"),
    )
    # w2: delete two 100s, update k5 in place (100->100, net zero).
    store.merge(
        spark.createDataFrame([(5, 3, 100)], sch),
        removed=spark.createDataFrame([(1,), (2,)], "k long"),
    )

    def scratch(v):
        depths = F.array(*[F.lit(d).cast("long") for d in range(D)])
        return {
            (r.d, r.bucket): r.cnt
            for r in store.read(version=v)
            .select(F.col("cust").alias("_k"), F.explode(depths).alias("d"))
            .select("d", cms_bucket(F.col("d"), F.col("_k"), W).alias("bucket"))
            .groupBy("d", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .collect()
        }

    as_d = lambda df: {  # noqa: E731
        (r.d, r.bucket): r.cnt for r in df.collect()
    }

    c1 = maintain_cms(store, 1, 2, "cust", depth=D, width=W).localCheckpoint()
    assert as_d(c1) == scratch(2)
    c2 = maintain_cms(
        store, 2, 3, "cust", depth=D, width=W, old_cells=c1
    ).localCheckpoint()
    got = as_d(c2)
    assert got == scratch(3)

    # One-sided estimate from the maintained cells: est(100) >= 2
    # (post state holds k5, k6) and est(300) >= 1 (k3), never under.
    import hashlib

    def est(key):
        vals = []
        for d in range(D):
            h = hashlib.md5(f"cms{d}:{key}".encode()).hexdigest()[:8]
            b = int(h, 16) % W
            vals.append(got.get((d, b), 0))
        return min(vals)

    assert est(100) >= 2
    assert est(300) >= 1


@pytest.mark.parametrize(
    "seed", [pytest.param(11, marks=pytest.mark.slow), 42]
)
def test_join_membership_model_random_program(spark, tmp_path, seed):
    """Model-based check for the semi/anti partition maintainer: a
    seeded random program drives BOTH stores — fact upserts that move
    keys (including to/from NULL) and fact deletes, dim inserts and
    dim deletes, all in the same windows — with the view chained on
    its own previous output; after every cycle the partition must
    equal a pure-python model of the post state. Key churn
    (delete-then-reinsert on either side, a dim key flapping within
    consecutive windows, NULL fact keys) arises from the seed."""
    import random as _random

    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_join_membership,
    )

    rng = _random.Random(seed)
    fks = list(range(18))
    custs = [0, 1, 2, 3, 4, 5, 6, None]
    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=4,
    )
    fschema = "fk long, v int, cust long"
    live_f: dict[int, int | None] = {}
    live_d: set[int] = set()

    def fact_rows(ver):
        return [
            (k, ver, rng.choice(custs))
            for k in rng.sample(fks, rng.randint(2, 7))
        ]

    rows0 = fact_rows(1)
    d0 = rng.sample(custs[:-1], 4)
    fact.overwrite(spark.createDataFrame(rows0, fschema))
    dim.overwrite(spark.createDataFrame([(d, 1) for d in d0], "dk long, v int"))
    live_f.update({k: c for k, _, c in rows0})
    live_d.update(d0)

    view = None
    for cycle in range(2, 6):
        frows = fact_rows(cycle)
        f_removable = [k for k in live_f if k not in {r[0] for r in frows}]
        f_removed = rng.sample(
            f_removable, min(len(f_removable), rng.randint(0, 3))
        ) if f_removable else []
        fact.merge(
            spark.createDataFrame(frows, fschema),
            removed=spark.createDataFrame([(k,) for k in f_removed], "fk long")
            if f_removed
            else None,
        )
        d_new = [
            d for d in rng.sample(custs[:-1], rng.randint(0, 3))
            if d not in live_d
        ]
        d_removable = [d for d in live_d if d not in d_new]
        d_removed = rng.sample(
            d_removable, min(len(d_removable), rng.randint(0, 2))
        ) if d_removable else []
        if d_new or d_removed:
            dim.merge(
                spark.createDataFrame(
                    [(d, cycle) for d in d_new], "dk long, v int"
                ),
                removed=spark.createDataFrame(
                    [(d,) for d in d_removed], "dk long"
                )
                if d_removed
                else None,
            )
        else:
            # Keep the version counters aligned: an empty window is a
            # no-op merge (commits a version with no changes).
            dim.merge(
                spark.createDataFrame([], "dk long, v int"), removed=None
            )
        live_f.update({k: c for k, _, c in frows})
        for k in f_removed:
            live_f.pop(k, None)
        live_d.update(d_new)
        live_d.difference_update(d_removed)

        view = maintain_join_membership(
            fact, dim, cycle - 1, cycle,
            fact_key_col="cust", dim_key_col="dk", old_view=view,
        ).localCheckpoint(eager=False)
        got = {r.fk: (r.cust, r.matched) for r in view.collect()}
        want = {
            k: (c, c is not None and c in live_d)
            for k, c in live_f.items()
        }
        assert got == want, f"membership diverged at cycle {cycle} ({seed=})"


def test_maintain_joined3_chained_equals_scratch(spark, tmp_path):
    """Three-table joined maintenance chained over two windows with
    old_view feedback, all three stores changing in both windows:
    fact insert/update/delete, customer insert/re-nation/delete,
    nation insert/re-region/delete — each window must land exactly on
    a from-scratch three-way rejoin of the post states, including a
    customer pointing at a deleted nation (drops from the view) and a
    nation re-region that moves a whole country's revenue between
    groups without any fact or customer change."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_joined3_agg,
    )

    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    cust = SnapshotStore(
        spark, str(tmp_path / "cust"), key="ck", version_col="v",
        num_buckets=4,
    )
    nat = SnapshotStore(
        spark, str(tmp_path / "nat"), key="nk", version_col="v",
        num_buckets=2,
    )
    fsch = "fk long, v int, cust long, price double"
    csch = "ck long, v int, nation long"
    nsch = "nk long, v int, grp string"
    # v1: nations 1(a) 2(a) 3(b); customers 1..4 over nations 1,1,2,3;
    # facts over customers 1,2,3 + an orphan customer 9.
    nat.overwrite(spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "a"), (3, 1, "b")], nsch))
    cust.overwrite(spark.createDataFrame(
        [(1, 1, 1), (2, 1, 1), (3, 1, 2), (4, 1, 3)], csch))
    fact.overwrite(spark.createDataFrame(
        [(10, 1, 1, 5.0), (11, 1, 2, 7.0), (12, 1, 3, 1.0),
         (13, 1, 4, 2.0), (14, 1, 9, 9.0)], fsch))
    # w1: fact update 10 (5->20) + insert 15 (cust 3) + delete 13;
    # cust: re-nation 2 (1->2), insert 9 (nation 3 — the orphan fact
    # materializes), delete 3 (fact 12 drops); nation: re-region 2
    # (a->c), insert 4 (c), delete 3 (customer 4 now dangles).
    fact.merge(
        spark.createDataFrame([(10, 2, 1, 20.0), (15, 2, 3, 3.0)], fsch),
        removed=spark.createDataFrame([(13,)], "fk long"),
    )
    cust.merge(
        spark.createDataFrame([(2, 2, 2), (9, 2, 3)], csch),
        removed=spark.createDataFrame([(3,)], "ck long"),
    )
    nat.merge(
        spark.createDataFrame([(2, 2, "c"), (4, 2, "c")], nsch),
        removed=spark.createDataFrame([(3,)], "nk long"),
    )
    # w2: fact delete 14 (cust 9's only fact); cust: re-nation 9
    # (3->1)... nation 3 is deleted, so aim at 1 instead; nation:
    # re-region 1 (a->b) moves customers 1's remaining revenue.
    fact.merge(
        spark.createDataFrame([], fsch),
        removed=spark.createDataFrame([(14,)], "fk long"),
    )
    cust.merge(
        spark.createDataFrame([(9, 3, 1)], csch),
        removed=spark.createDataFrame([], "ck long"),
    )
    nat.merge(
        spark.createDataFrame([(1, 3, "b")], nsch),
        removed=spark.createDataFrame([], "nk long"),
    )

    def scratch(v):
        return {
            r.grp: (r.n, r.s)
            for r in fact.read(version=v)
            .join(cust.read(version=v).select("ck", "nation"),
                  F.col("cust") == F.col("ck"))
            .join(nat.read(version=v).select("nk", "grp"),
                  F.col("nation") == F.col("nk"))
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("price") * 100).cast("long")).alias("s"),
            )
            .collect()
        }

    kw = dict(
        fact_key_col="cust", dim1_key_col="ck", dim1_attr_col="nation",
        dim2_key_col="nk", group_col="grp",
    )
    as_d = lambda df: {r.grp: (r.n, r.s) for r in df.collect()}  # noqa: E731

    w1 = maintain_joined3_agg(fact, cust, nat, 1, 2, **kw).localCheckpoint()
    assert as_d(w1) == scratch(2)
    w2 = maintain_joined3_agg(fact, cust, nat, 2, 3, **kw, old_view=w1)
    assert as_d(w2) == scratch(3)


@pytest.mark.parametrize(
    "seed", [pytest.param(5, marks=pytest.mark.slow), 31]
)
def test_joined_ivm_model_random_program(spark, tmp_path, seed):
    """Model-based check for the JOINED maintainers: one seeded random
    program drives a fact store, a dim store and a second (snowflake)
    dim store through three chained windows — fact upserts/deletes,
    customer inserts/re-nations/deletes, nation inserts/re-groups/
    deletes all in the same windows — and after every cycle
    maintain_joined_agg, maintain_joined_min_max and
    maintain_joined3_agg (each chained on its own previous output)
    must equal a from-scratch rejoin of the post states. The
    interleavings that break joined IVM (a re-nationed customer whose
    facts all died the same window, a nation vanishing under live
    customers, an extremum departing via a dim move) arise from the
    seed."""
    import random as _random

    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_joined3_agg,
        maintain_joined_agg,
        maintain_joined_min_max,
        maintain_joined_top_k,
    )

    rng = _random.Random(seed)
    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    cust = SnapshotStore(
        spark, str(tmp_path / "cust"), key="ck", version_col="v",
        num_buckets=4,
    )
    nat = SnapshotStore(
        spark, str(tmp_path / "nat"), key="nk", version_col="v",
        num_buckets=2,
    )
    fsch = "fk long, v int, cust long, price double"
    csch = "ck long, v int, nation long"
    nsch = "nk long, v int, grp string"
    FKS, CKS, NKS = list(range(20)), list(range(6)), list(range(4))
    GRPS = ["a", "b", None]
    live_f: dict[int, tuple[int, float]] = {}
    live_c: dict[int, int] = {}
    live_n: dict[int, str | None] = {}

    def pick(pool, k):
        return rng.sample(pool, min(k, len(pool)))

    def step(ver):
        frows = [
            (k, ver, rng.choice(CKS), float(rng.randint(1, 99)))
            for k in rng.sample(FKS, rng.randint(2, 7))
        ]
        f_rm = pick(
            [k for k in live_f if k not in {r[0] for r in frows}],
            rng.randint(0, 3),
        )
        crows = [
            (k, ver, rng.choice(NKS))
            for k in rng.sample(CKS, rng.randint(0, 3))
        ]
        c_rm = pick(
            [k for k in live_c if k not in {r[0] for r in crows}],
            rng.randint(0, 1),
        )
        nrows = [
            (k, ver, rng.choice(GRPS))
            for k in rng.sample(NKS, rng.randint(0, 2))
        ]
        n_rm = pick(
            [k for k in live_n if k not in {r[0] for r in nrows}],
            rng.randint(0, 1),
        )
        return frows, f_rm, crows, c_rm, nrows, n_rm

    def apply(store, rows, removed, sch, keysch):
        store.merge(
            spark.createDataFrame(rows, sch),
            removed=spark.createDataFrame([(k,) for k in removed], keysch)
            if removed
            else None,
        )

    # v1 seeds
    frows, _, crows, _, nrows, _ = step(1)
    if not crows:
        crows = [(0, 1, 0)]
    if not nrows:
        nrows = [(0, 1, "a")]
    fact.overwrite(spark.createDataFrame(frows, fsch))
    cust.overwrite(spark.createDataFrame(crows, csch))
    nat.overwrite(spark.createDataFrame(nrows, nsch))
    live_f.update({k: (c, p) for k, _, c, p in frows})
    live_c.update({k: n for k, _, n in crows})
    live_n.update({k: g for k, _, g in nrows})

    views = {"agg": None, "mm": None, "j3": None, "tk": None}
    for cycle in range(2, 5):
        frows, f_rm, crows, c_rm, nrows, n_rm = step(cycle)
        apply(fact, frows, f_rm, fsch, "fk long")
        apply(cust, crows, c_rm, csch, "ck long")
        apply(nat, nrows, n_rm, nsch, "nk long")
        live_f.update({k: (c, p) for k, _, c, p in frows})
        for k in f_rm:
            live_f.pop(k, None)
        live_c.update({k: n for k, _, n in crows})
        for k in c_rm:
            live_c.pop(k, None)
        live_n.update({k: g for k, _, g in nrows})
        for k in n_rm:
            live_n.pop(k, None)

        vf, vt = cycle - 1, cycle
        views["agg"] = maintain_joined_agg(
            fact, cust, vf, vt, fact_key_col="cust", dim_key_col="ck",
            group_col="nation", old_view=views["agg"],
        ).localCheckpoint(eager=False)
        views["mm"] = maintain_joined_min_max(
            fact, cust, vf, vt, fact_key_col="cust", dim_key_col="ck",
            group_col="nation", old_view=views["mm"],
        ).localCheckpoint(eager=False)
        views["j3"] = maintain_joined3_agg(
            fact, cust, nat, vf, vt,
            fact_key_col="cust", dim1_key_col="ck", dim1_attr_col="nation",
            dim2_key_col="nk", group_col="grp", old_view=views["j3"],
        ).localCheckpoint(eager=False)
        views["tk"] = maintain_joined_top_k(
            fact, cust, vf, vt, fact_key_col="cust", dim_key_col="ck",
            group_col="nation", k=3, old_view=views["tk"],
        ).localCheckpoint(eager=False)

        # Pure-python models from the live dicts.
        cents = lambda p: int(round(p * 100))  # noqa: E731
        by_nation: dict[int, list[int]] = {}
        by_grp: dict[str | None, list[int]] = {}
        for _, (c, p) in live_f.items():
            if c in live_c:
                n = live_c[c]
                by_nation.setdefault(n, []).append(cents(p))
                if n in live_n:
                    by_grp.setdefault(live_n[n], []).append(cents(p))
        got_agg = {r.nation: (r.n, r.s) for r in views["agg"].collect()}
        assert got_agg == {
            n: (len(v), sum(v)) for n, v in by_nation.items()
        }, f"joined agg diverged at cycle {cycle} ({seed=})"
        got_mm = {
            r.nation: (r.n, r.s, r.min_c, r.max_c)
            for r in views["mm"].collect()
        }
        assert got_mm == {
            n: (len(v), sum(v), min(v), max(v))
            for n, v in by_nation.items()
        }, f"joined min/max diverged at cycle {cycle} ({seed=})"
        got_j3 = {r.grp: (r.n, r.s) for r in views["j3"].collect()}
        assert got_j3 == {
            g: (len(v), sum(v)) for g, v in by_grp.items()
        }, f"joined3 diverged at cycle {cycle} ({seed=})"
        got_tk = {
            r.nation: (r.n, r.s, tuple(r.topk))
            for r in views["tk"].collect()
        }
        assert got_tk == {
            n: (len(v), sum(v), tuple(sorted(v, reverse=True)[:3]))
            for n, v in by_nation.items()
        }, f"joined top-k diverged at cycle {cycle} ({seed=})"


@pytest.mark.slow
def test_maintain_joined_top_k_all_branches(spark, tmp_path):
    """Joined top-k across two chained windows with both stores
    changing: pure-merge cycles (adds below/above the horizon),
    a horizon-retiring fact delete, a dim move that carries a top-k
    member between groups (no fact change), and a moved-in key whose
    values enter the destination's array — each window checked
    against a from-scratch ranked rejoin."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_joined_top_k,
    )

    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="ck", version_col="v",
        num_buckets=4,
    )
    fsch = "fk long, v int, cust long, price double"
    dsch = "ck long, v int, grp string"
    dim.overwrite(spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "a"), (3, 1, "b")], dsch))
    # group a: cust1 {9, 5}, cust2 {7}; group b: cust3 {4, 2}
    fact.overwrite(spark.createDataFrame(
        [(10, 1, 1, 0.09), (11, 1, 1, 0.05), (12, 1, 2, 0.07),
         (13, 1, 3, 0.04), (14, 1, 3, 0.02)], fsch))
    # w1: insert 3 into a (below horizon for k=2), delete 10 (a's max
    # — horizon retire), move cust3 b->a (carries {4,2} in).
    fact.merge(
        spark.createDataFrame([(15, 2, 2, 0.03)], fsch),
        removed=spark.createDataFrame([(10,)], "fk long"),
    )
    dim.merge(
        spark.createDataFrame([(3, 2, "a")], dsch),
        removed=spark.createDataFrame([], "ck long"),
    )
    # w2: pure adds (one beats a's max, one below), new dim key with
    # facts arriving the same window (cust 4 -> new group c).
    fact.merge(
        spark.createDataFrame(
            [(16, 3, 1, 0.99), (17, 3, 2, 0.01), (18, 3, 4, 0.06)], fsch),
        removed=spark.createDataFrame([], "fk long"),
    )
    dim.merge(
        spark.createDataFrame([(4, 3, "c")], dsch),
        removed=spark.createDataFrame([], "ck long"),
    )

    def scratch(v):
        from pyspark.sql import Window

        cents = F.round(F.col("price") * 100).cast("long")
        base = (
            fact.read(version=v)
            .join(dim.read(version=v).select("ck", "grp"),
                  F.col("cust") == F.col("ck"))
            .select("grp", cents.alias("c"))
        )
        w = Window.partitionBy("grp").orderBy(F.desc("c"))
        return {
            r.grp: (r.n, r.s, tuple(r.topk))
            for r in base.withColumn("_rk", F.row_number().over(w))
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("c").alias("s"),
                F.reverse(F.array_sort(
                    F.collect_list(F.when(F.col("_rk") <= 2, F.col("c")))
                )).alias("topk"),
            )
            .collect()
        }

    kw = dict(fact_key_col="cust", dim_key_col="ck", group_col="grp", k=2)
    as_d = lambda df: {  # noqa: E731
        r.grp: (r.n, r.s, tuple(r.topk)) for r in df.collect()
    }
    w1 = maintain_joined_top_k(fact, dim, 1, 2, **kw).localCheckpoint()
    got1 = as_d(w1)
    assert got1 == scratch(2)
    assert got1["a"][2] == (7, 5)  # 9 retired, moved-in 4 below
    assert "b" not in got1  # its only customer moved away
    w2 = maintain_joined_top_k(fact, dim, 2, 3, **kw, old_view=w1)
    got2 = as_d(w2)
    assert got2 == scratch(3)
    assert got2["a"][2] == (99, 7)  # add beat the stored max
    assert got2["c"][2] == (6,)  # new key + new group same window


def test_maintain_joined_top_k_same_group_dim_update_no_duplicate(
    spark, tmp_path
):
    """A dim row re-merged into its SAME group (an update that keeps
    the group) must not re-add its key's facts to the stored top-k
    array: the dim feed's -1 and +1 images cancel before any candidate
    is taken. An unrelated fact add rides the same window. Without the
    cancellation customer 1's 9 enters twice: [9, 9, 7]."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        maintain_joined_top_k,
    )

    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="ck", version_col="v",
        num_buckets=4,
    )
    fsch = "fk long, v int, cust long, price double"
    dsch = "ck long, v int, grp string"
    dim.overwrite(spark.createDataFrame([(1, 1, "a"), (2, 1, "a")], dsch))
    fact.overwrite(spark.createDataFrame(
        [(10, 1, 1, 0.09), (11, 1, 2, 0.07), (12, 1, 2, 0.05)], fsch))
    old = spark.createDataFrame(
        [("a", 3, 21, [9, 7, 5])],
        "grp string, n long, s long, topk array<long>",
    )
    dim.merge(spark.createDataFrame([(1, 2, "a")], dsch))
    fact.merge(spark.createDataFrame([(13, 2, 2, 0.01)], fsch))
    got = {
        r.grp: (r.n, r.s, list(r.topk))
        for r in maintain_joined_top_k(
            fact, dim, 1, 2, fact_key_col="cust", dim_key_col="ck",
            group_col="grp", k=3, old_view=old,
        ).collect()
    }
    assert got == {"a": (4, 22, [9, 7, 5])}


def test_join_membership_delta_replay_idempotent(spark, tmp_path):
    """The delta publication's at-least-once claim, pinned at operator
    level: applying join_membership_delta's (upserts, removed) to the
    view store TWICE — a crashed epoch replayed after a completed
    publish — leaves the view byte-identical to applying it once, and
    both equal the full maintained partition."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        join_membership_delta,
        maintain_join_membership,
    )

    fact = SnapshotStore(
        spark, str(tmp_path / "fact"), key="fk", version_col="v",
        num_buckets=4,
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=2,
    )
    fsch = "fk long, v int, cust long"
    dim.overwrite(spark.createDataFrame([(1, 1), (2, 1)], "dk long, v int"))
    fact.overwrite(spark.createDataFrame(
        [(10, 1, 1), (11, 1, 2), (12, 1, 9)], fsch))
    fact.merge(
        spark.createDataFrame([(13, 2, 9), (10, 2, 2)], fsch),
        removed=spark.createDataFrame([(11,)], "fk long"),
    )
    dim.merge(
        spark.createDataFrame([(9, 2)], "dk long, v int"),
        removed=spark.createDataFrame([(2,)], "dk long"),
    )

    def fresh_view_store(name):
        vs = SnapshotStore(
            spark, str(tmp_path / name), key="fk", version_col="_vm",
            num_buckets=4,
        )
        vs.overwrite(
            maintain_join_membership(
                fact, dim, 1, 1, fact_key_col="cust", dim_key_col="dk"
            ).withColumn("_vm", F.lit(1))
        )
        return vs

    def apply_delta(vs):
        up, rm = join_membership_delta(
            fact, dim, 1, 2, fact_key_col="cust", dim_key_col="dk",
            view_df=vs.read().drop("_vm"),
        )
        vs.merge(
            up.withColumn("_vm", F.lit(2)).localCheckpoint(), removed=rm
        )

    def content(vs):
        return {
            r.fk: (r.cust, r.matched)
            for r in vs.read().select("fk", "cust", "matched").collect()
        }

    once, twice = fresh_view_store("v1"), fresh_view_store("v2")
    apply_delta(once)
    apply_delta(twice)
    apply_delta(twice)  # the replay
    want = {
        r.fk: (r.cust, r.matched)
        for r in maintain_join_membership(
            fact, dim, 1, 2, fact_key_col="cust", dim_key_col="dk"
        ).collect()
    }
    assert content(once) == want
    assert content(twice) == want


def test_classify_membership_dim_scan_is_column_pruned(spark, tmp_path):
    """The membership cycle's one non-feed input is claimed to be a
    COLUMN-PRUNED scan of the dim key column. Pin it mechanically:
    give the dim store a fat payload column and assert the executed
    plan's dim-side ReadSchema contains only the key (the payload
    never leaves parquet)."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        classify_membership,
    )

    fact = spark.createDataFrame(
        [(1, 5), (2, 9)], "fk long, cust long"
    )
    dim = SnapshotStore(
        spark, str(tmp_path / "dim"), key="dk", version_col="v",
        num_buckets=2,
    )
    dim.overwrite(
        spark.createDataFrame(
            [(5, 1, "x" * 1000, 1.0), (6, 1, "y" * 1000, 2.0)],
            "dk long, v int, fat string, score double",
        )
    )
    out = classify_membership(
        fact, dim, 1, fact_key_col="cust", dim_key_col="dk"
    )
    rows = {r.fk: r.matched for r in out.collect()}
    assert rows == {1: True, 2: False}
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    import re

    dim_scans = [
        m for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        if "dk" in m
    ]
    assert dim_scans, plan
    for schema in dim_scans:
        assert "fat" not in schema and "score" not in schema, schema


def test_maintain_dyadic_cms_rank_sketch_equals_scratch(spark, tmp_path):
    """Maintained dyadic count-min RANK sketch: two chained windows
    with cell feedback; per-level cells must BIT-EQUAL a from-scratch
    dyadic sketch of the post state at each step (inserts, a value
    MOVE across dyadic nodes, deletes — the turnstile property), and
    rank estimates read along the dyadic decomposition keep the
    one-sided guarantee (est >= exact) while being exact when no CMS
    collision occurs."""
    import hashlib

    from fs_indexer_elasticsearch_spark.operators.ivm import (
        dyadic_bucket,
        maintain_dyadic_cms,
    )

    L, D, W = 4, 2, 8  # domain [0, 16), tiny width forces collisions
    store = SnapshotStore(
        spark, str(tmp_path / "dcms"), key="k", version_col="v", num_buckets=4
    )
    sch = "k long, v int, val long"
    store.overwrite(spark.createDataFrame(
        [(1, 1, 3), (2, 1, 5), (3, 1, 9), (4, 1, 15)], sch))
    # w1: insert 7 and 0, MOVE k3 9->2 (crosses the top-level node),
    # delete k4 (a 15).
    store.merge(
        spark.createDataFrame([(5, 2, 7), (6, 2, 0), (3, 2, 2)], sch),
        removed=spark.createDataFrame([(4,)], "k long"),
    )
    # w2: delete the 0, re-stamp k5 in place (net-zero cell delta).
    store.merge(
        spark.createDataFrame([(5, 3, 7)], sch),
        removed=spark.createDataFrame([(6,)], "k long"),
    )

    def scratch(v):
        lvls = F.array(*[F.lit(x).cast("long") for x in range(L)])
        ds = F.array(*[F.lit(d).cast("long") for d in range(D)])
        return {
            (r.lvl, r.d, r.bucket): r.cnt
            for r in store.read(version=v)
            .select("val", F.explode(lvls).alias("lvl"))
            .select(
                "lvl",
                F.floor(F.col("val") / F.pow(F.lit(2), F.col("lvl")))
                .cast("long")
                .alias("_node"),
            )
            .select("lvl", "_node", F.explode(ds).alias("d"))
            .select(
                "lvl",
                "d",
                dyadic_bucket(
                    F.col("lvl"), F.col("d"), F.col("_node"), W
                ).alias("bucket"),
            )
            .groupBy("lvl", "d", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .collect()
        }

    as_d = lambda df: {  # noqa: E731
        (r.lvl, r.d, r.bucket): r.cnt for r in df.collect()
    }

    c1 = maintain_dyadic_cms(
        store, 1, 2, F.col("val"), levels=L, depth=D, width=W
    ).localCheckpoint()
    assert as_d(c1) == scratch(2)
    c2 = maintain_dyadic_cms(
        store, 2, 3, F.col("val"), levels=L, depth=D, width=W, old_cells=c1
    ).localCheckpoint()
    got = as_d(c2)
    assert got == scratch(3)

    # Rank reads off the maintained cells. Post state: {3,5,2,7}.
    def est_rank(x):
        total = 0
        for b in range(L):
            if (x >> b) & 1 == 0:
                continue
            node = (x >> (b + 1)) * 2
            per_d = []
            for d in range(D):
                h = hashlib.md5(f"dcms{b}:{d}:{node}".encode()).hexdigest()[:8]
                per_d.append(got.get((b, d, int(h, 16) % W), 0))
            total += min(per_d)
        return total

    # Probes must lie in [0, 2^L) — the operator's documented domain
    # (x = 2^L would need the level-L root, which is not maintained;
    # [0, 2^L) is decomposable with levels 0..L-1 only).
    post = [3, 5, 2, 7]
    for x in (1, 4, 8, 15):
        exact = sum(1 for v in post if v < x)
        assert est_rank(x) >= exact, (x, est_rank(x), exact)


def test_dyadic_quantile_serving_off_collected_cells(spark, tmp_path):
    """Rank/quantile SERVING off the maintained dyadic sketch: the
    cell frame collects to a bounded dict (levels x depth x width max)
    and quantiles come from a driver-side binary search of one-sided
    rank reads — with a wide sketch (no collisions) the estimates are
    EXACT; the one-sided property makes the quantile biased low, never
    high."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        dyadic_cells_dict,
        dyadic_quantile,
        dyadic_rank,
        maintain_dyadic_cms,
    )

    L, D, W = 6, 3, 512  # wide: effectively collision-free here
    store = SnapshotStore(
        spark, str(tmp_path / "dq"), key="k", version_col="v", num_buckets=4
    )
    vals = [3, 5, 9, 15, 22, 22, 40, 63]
    store.overwrite(
        spark.createDataFrame(
            [(i, 1, v) for i, v in enumerate(vals)], "k long, v int, val long"
        )
    )
    # One delete window so the cells exercise the turnstile path.
    store.merge(
        spark.createDataFrame([(99, 2, 7)], "k long, v int, val long"),
        removed=spark.createDataFrame([(0,)], "k long"),  # drops the 3
    )
    post = sorted(vals[1:] + [7])  # [5, 7, 9, 15, 22, 22, 40, 63]
    cells = dyadic_cells_dict(
        maintain_dyadic_cms(
            store, 1, 2, F.col("val"), levels=L, depth=D, width=W
        )
    )
    kw = dict(levels=L, depth=D, width=W)
    # Exact ranks at a collision-free width, including the full-domain
    # read (x = 2^L reads the two top children).
    for x in (0, 5, 6, 23, 64):
        assert dyadic_rank(cells, x, **kw) == sum(1 for v in post if v < x)
    n = len(post)
    # Exact quantiles: q=0.5 -> 4th smallest (15), q=0.25 -> 2nd (7),
    # q=1.0 -> max (63).
    assert dyadic_quantile(cells, 0.25, n, **kw) == 7
    assert dyadic_quantile(cells, 0.5, n, **kw) == 15
    assert dyadic_quantile(cells, 1.0, n, **kw) == 63
    import pytest

    with pytest.raises(ValueError, match="outside"):
        dyadic_rank(cells, 65, **kw)


def test_dyadic_cms_grouped_null_stratum_merges(spark, tmp_path):
    """Grouped dyadic sketch: a NULL stratum is ONE group (SQL GROUP
    BY semantics) — its old and delta cells must pair null-safely in
    the merge (a plain list-key join splits them into partial-count
    duplicates), and the maintained grouped cells equal a from-scratch
    grouped sketch per stratum including the NULL one."""
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        dyadic_bucket,
        maintain_dyadic_cms,
    )

    L, D, W = 4, 2, 64
    store = SnapshotStore(
        spark, str(tmp_path / "gdq"), key="k", version_col="v", num_buckets=4
    )
    sch = "k long, v int, grp string, val long"
    store.overwrite(spark.createDataFrame(
        [(1, 1, "a", 3), (2, 1, None, 5), (3, 1, None, 9), (4, 1, "b", 15)],
        sch,
    ))
    # Window touches the NULL stratum in BOTH directions: add one,
    # delete one.
    store.merge(
        spark.createDataFrame([(5, 2, None, 7)], sch),
        removed=spark.createDataFrame([(2,)], "k long"),
    )

    def scratch():
        lvls = F.array(*[F.lit(x).cast("long") for x in range(L)])
        ds = F.array(*[F.lit(d).cast("long") for d in range(D)])
        return {
            (r.grp, r.lvl, r.d, r.bucket): r.cnt
            for r in store.read(version=2)
            .select("grp", "val", F.explode(lvls).alias("lvl"))
            .select(
                "grp",
                "lvl",
                F.floor(F.col("val") / F.pow(F.lit(2), F.col("lvl")))
                .cast("long")
                .alias("_node"),
            )
            .select("grp", "lvl", "_node", F.explode(ds).alias("d"))
            .select(
                "grp",
                "lvl",
                "d",
                dyadic_bucket(
                    F.col("lvl"), F.col("d"), F.col("_node"), W
                ).alias("bucket"),
            )
            .groupBy("grp", "lvl", "d", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .collect()
        }

    got = {
        (r.grp, r.lvl, r.d, r.bucket): r.cnt
        for r in maintain_dyadic_cms(
            store, 1, 2, F.col("val"),
            levels=L, depth=D, width=W, group_cols=["grp"],
        ).collect()
    }
    assert got == scratch()
    # The NULL stratum genuinely exists and merged into single rows.
    null_cells = [k for k in got if k[0] is None]
    assert null_cells and all(got[k] >= 1 for k in null_cells)


def _dyadic_test_cells(spark, rows, levels, depth, width):
    """Cells frame built directly from (group, value) rows — the
    insert-only shape maintain_dyadic_cms emits."""
    from fs_indexer_elasticsearch_spark.operators.ivm import dyadic_bucket

    df = spark.createDataFrame(rows, "g string, v long")
    lvls = F.sequence(F.lit(0), F.lit(levels - 1))
    ds = F.array(*[F.lit(d).cast("long") for d in range(depth)])
    return (
        df.select("g", "v", F.explode(lvls).alias("lvl"))
        .select("g", "v", F.col("lvl").cast("long").alias("lvl"))
        .withColumn(
            "_node",
            F.floor(F.col("v") / F.pow(F.lit(2), F.col("lvl"))).cast("long"),
        )
        .select("g", "lvl", "_node", F.explode(ds).alias("d"))
        .withColumn(
            "bucket",
            dyadic_bucket(F.col("lvl"), F.col("d"), F.col("_node"), width),
        )
        .groupBy("g", "lvl", "d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def test_dyadic_rank_probe_matches_driver_serve(spark):
    """Executor-side rank serving (r13 verdict #2) == the driver-dict
    serve for every (group, probe) pair, on BOTH join regimes
    (shuffle and broadcast), including a NULL stratum and the empty
    decomposition x = 0."""
    import random

    from fs_indexer_elasticsearch_spark.operators.ivm import (
        dyadic_cells_dict,
        dyadic_rank,
        dyadic_rank_probe,
    )

    LEV, DEP, WID = 8, 3, 32
    rng = random.Random(7)
    rows = [
        (g, rng.randrange(0, 256)) for g in ["a", "b", None] for _ in range(50)
    ]
    cells = _dyadic_test_cells(spark, rows, LEV, DEP, WID)
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    xs = (0, 1, 77, 128, 255)
    pdf = spark.createDataFrame(
        [(g, x) for g in by_g for x in xs], "g string, x long"
    )
    for bc in (False, True):
        served = {
            (r.g, r.x): r.est_rank
            for r in dyadic_rank_probe(
                cells, pdf, levels=LEV, depth=DEP, width=WID,
                group_cols=["g"], broadcast_cells=bc,
            ).collect()
        }
        for g in by_g:
            cd = dyadic_cells_dict(
                cells.filter(F.col("g").eqNullSafe(F.lit(g))).select(
                    "lvl", "d", "bucket", "cnt"
                )
            )
            for x in xs:
                assert served[(g, x)] == dyadic_rank(
                    cd, x, levels=LEV, depth=DEP, width=WID
                ), (bc, g, x)


@pytest.mark.slow
def test_dyadic_quantile_serve_binary_matches_driver(spark):
    """dyadic_quantile_serve(arity=2) reproduces dyadic_quantile's
    binary probe path byte-for-byte per group — the parity its
    oracle-twinned callers rely on."""
    import random

    from fs_indexer_elasticsearch_spark.operators.ivm import (
        dyadic_cells_dict,
        dyadic_quantile,
        dyadic_quantile_serve,
    )

    LEV, DEP, WID = 8, 3, 32
    rng = random.Random(11)
    rows = [
        (g, rng.randrange(0, 256))
        for g in ["a", "b", None, "c"]
        for _ in range(rng.randrange(1, 70))
    ]
    cells = _dyadic_test_cells(spark, rows, LEV, DEP, WID)
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    tot = spark.createDataFrame(
        [(g, len(vs)) for g, vs in by_g.items()], "g string, n long"
    )
    for q in (0.01, 0.25, 0.5, 0.9, 1.0):
        qs = {
            r.g: r.qhat
            for r in dyadic_quantile_serve(
                cells, tot, q, levels=LEV, depth=DEP, width=WID,
                group_cols=["g"], broadcast_cells=True, arity=2,
            ).collect()
        }
        for g, vs in by_g.items():
            cd = dyadic_cells_dict(
                cells.filter(F.col("g").eqNullSafe(F.lit(g))).select(
                    "lvl", "d", "bucket", "cnt"
                )
            )
            assert qs[g] == dyadic_quantile(
                cd, q, len(vs), levels=LEV, depth=DEP, width=WID
            ), (q, g)


def test_dyadic_quantile_serve_wide_fan_one_sided(spark):
    """The wide-fan descent (arity=8): the probe PATH is part of the
    served semantics (CMS rank estimates are one-sided but not
    monotone in x), so arity=8 may legitimately differ from binary —
    but the ONE-SIDED guarantee is path-independent: a probe at or
    above the exact quantile can never fail, so qhat <= exact
    q-quantile for EVERY group. Also pins determinism (two runs
    byte-equal)."""
    import math
    import random

    from fs_indexer_elasticsearch_spark.operators.ivm import (
        dyadic_quantile_serve,
    )

    LEV, DEP, WID = 8, 3, 16  # narrow width -> real collision noise
    rng = random.Random(3)
    rows = [
        (f"g{i}", rng.randrange(0, 256))
        for i in range(40)
        for _ in range(rng.randrange(1, 30))
    ]
    cells = _dyadic_test_cells(spark, rows, LEV, DEP, WID)
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    tot = spark.createDataFrame(
        [(g, len(vs)) for g, vs in by_g.items()], "g string, n long"
    )
    for q in (0.25, 0.5, 0.9):
        runs = [
            {
                r.g: r.qhat
                for r in dyadic_quantile_serve(
                    cells, tot, q, levels=LEV, depth=DEP, width=WID,
                    group_cols=["g"], broadcast_cells=True, arity=8,
                ).collect()
            }
            for _ in range(2)
        ]
        assert runs[0] == runs[1]  # deterministic
        for g, vs in by_g.items():
            t = math.ceil(q * len(vs))
            exact = sorted(vs)[t - 1]
            assert runs[0][g] <= exact, (q, g, runs[0][g], exact)


@pytest.mark.parametrize(
    "seed", [5, pytest.param(31, marks=pytest.mark.slow)]
)
def test_bm25_model_random_program(spark, tmp_path, seed):
    """Model-based check for BOTH BM25 regimes (r14): a seeded random
    program of document upserts + deletions over a small colliding
    vocabulary drives (a) the maintained-view pair
    (maintain_bm25 chained on its own previous state) and (b) the
    persisted term-bucketed Bm25IndexStore (updates as remove+re-add,
    deletions alternating eager/tombstone), and after every cycle BOTH
    must serve exactly the from-scratch top-k over the post state.
    Doc-length churn, term-set churn (a doc losing a query term), and
    re-inserting a previously deleted id arise from the seed."""
    import random as _random

    from fs_indexer_elasticsearch_spark.functions.text import tokens
    from fs_indexer_elasticsearch_spark.operators.incremental_bm25 import (
        Bm25IndexStore,
    )
    from fs_indexer_elasticsearch_spark.operators.ivm import (
        bm25_postings_of,
        bm25_topk,
        maintain_bm25,
    )

    rng = _random.Random(seed)
    VOCAB = ["spark", "join", "window", "fast", "slow", "shuffle", "plan"]
    TERMS = ["spark", "join", "window"]
    N_DOCS = 14

    def text_of():
        return " ".join(
            rng.choice(VOCAB) for _ in range(rng.randint(1, 9))
        )

    store = SnapshotStore(
        spark, str(tmp_path / "docs"), key="doc_id", version_col="v",
        num_buckets=4,
    )
    idx = Bm25IndexStore(spark, str(tmp_path / "bm25"), num_buckets=4)
    live: dict[int, str] = {
        i: text_of() for i in rng.sample(range(N_DOCS), 8)
    }
    store.overwrite(
        spark.createDataFrame(
            [(i, 1, t) for i, t in live.items()],
            "doc_id long, v long, text string",
        )
    )
    idx.seed(
        spark.createDataFrame(
            list(live.items()), "doc_id long, text string"
        ),
        "doc_id",
        "text",
    )

    def scratch():
        cur = spark.createDataFrame(
            list(live.items()) or [(None, None)],
            "doc_id long, text string",
        ).filter(F.col("doc_id").isNotNull())
        postings = bm25_postings_of(cur, "doc_id", "text", TERMS)
        stats = cur.select(tokens(F.col("text")).alias("tk")).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.size("tk")), F.lit(0))
            .cast("long")
            .alias("sum_dl"),
        )
        return [
            (r.doc_id, r.bm25)
            for r in bm25_topk(postings, stats, k=6).collect()
        ]

    postings = stats = None
    seq = 0
    tombstoned: set[int] = set()
    for cycle in range(2, 6):
        # random churn: upserts (insert or mutate) + deletions
        ups = {
            i: text_of()
            for i in rng.sample(range(N_DOCS), rng.randint(1, 4))
        }
        removable = [i for i in live if i not in ups]
        dels = (
            rng.sample(removable, min(len(removable), rng.randint(0, 2)))
            if removable
            else []
        )
        # feed the CDF store (maintained-view regime)
        store.merge(
            spark.createDataFrame(
                [(i, cycle, t) for i, t in ups.items()],
                "doc_id long, v long, text string",
            ),
            removed=spark.createDataFrame(
                [(i,) for i in dels], "doc_id long"
            )
            if dels
            else None,
        )
        # feed the index store: mutations remove first (the contract),
        # deletions alternate modes
        mutated = [i for i in ups if i in live]
        if mutated:
            idx.remove_docs(
                spark.createDataFrame([(i,) for i in mutated], "doc_id long"),
                mode="eager",
            )
        if dels:
            use_tomb = bool(cycle % 2)
            idx.remove_docs(
                spark.createDataFrame([(i,) for i in dels], "doc_id long"),
                mode="tombstone" if use_tomb else "eager",
            )
            if use_tomb:
                tombstoned.update(dels)
        # Re-inserting a tombstoned id: the documented caveat is that
        # it stays hidden until compaction — so the model compacts
        # first, exactly what a deployment does before re-ingesting
        # purged ids.
        if tombstoned & set(ups):
            idx.compact_tombstones()
            tombstoned.clear()
        seq += 1
        idx.add(
            spark.createDataFrame(
                list(ups.items()), "doc_id long, text string"
            ),
            "doc_id",
            "text",
            seq=seq,
        )
        live.update(ups)
        for i in dels:
            live.pop(i, None)

        postings, stats = maintain_bm25(
            store, cycle - 1, cycle,
            id_col="doc_id", text_col="text", terms=TERMS,
            old_postings=postings, old_stats=stats,
        )
        postings = postings.localCheckpoint(eager=False)
        stats = stats.localCheckpoint(eager=False)
        want = scratch()
        got_view = [
            (r.doc_id, r.bm25)
            for r in bm25_topk(postings, stats, k=6).collect()
        ]
        got_store = [
            (r.doc_id, r.bm25) for r in idx.search(TERMS, k=6).collect()
        ]
        assert got_view == want, f"view regime diverged at cycle {cycle}"
        assert got_store == want, f"store regime diverged at cycle {cycle}"


# ---------------------------------------------------------------------------
# maintain_keyed_slices (the general per-key-recompute combinator)
# ---------------------------------------------------------------------------


def _sess(df):
    import pyspark.sql.functions as F

    return (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "u")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("u", F.col("w.start").alias("start"), "n")
    )


def test_keyed_slices_session_merge_and_split(spark):
    """The two session mutations per-row patching can't express:
    an insert inside a gap MERGES two sessions; a delete that opens a
    gap SPLITS one. Slice recomputation must produce exactly the
    from-scratch session set, and untouched users must carry forward
    without recompute."""
    import pyspark.sql.functions as F

    from fs_indexer_elasticsearch_spark.operators.ivm import maintain_keyed_slices

    def ev(rows):
        return spark.createDataFrame(rows, "u long, t long, id long").select(
            "u", F.timestamp_seconds(F.col("t") * 60).alias("ts"), "id"
        )

    # user 1: events at minute 0 and 60 -> two sessions (gap 60m)
    # user 2: one session at minute 0
    base = ev([(1, 0, 1), (1, 60, 2), (2, 0, 3)])
    v0 = _sess(base)
    assert v0.filter("u = 1").count() == 2

    # MERGE: insert at minute 30 bridges the gap -> ONE session
    post1 = base.unionByName(ev([(1, 30, 4)]))
    touched = spark.createDataFrame([(1,)], "u long")
    v1 = maintain_keyed_slices(
        v0, touched, "u", lambda t: _sess(post1.join(t, ["u"], "left_semi"))
    )
    got1 = {(r.u, r.n) for r in v1.collect()}
    assert got1 == {(1, 3), (2, 1)}
    scratch1 = {(r.u, r.n) for r in _sess(post1).collect()}
    assert got1 == scratch1

    # SPLIT: delete the bridge again -> back to two sessions
    post2 = post1.filter("id <> 4")
    v2 = maintain_keyed_slices(
        v1, touched, "u", lambda t: _sess(post2.join(t, ["u"], "left_semi"))
    )
    got2 = {(r.u, r.n) for r in v2.collect()}
    assert got2 == {(1, 1), (2, 1)} or got2 == {(1, 1), (1, 1), (2, 1)}
    assert v2.filter("u = 1").count() == 2
    scratch2 = {(r.u, r.start, r.n) for r in _sess(post2).collect()}
    assert {(r.u, r.start, r.n) for r in v2.collect()} == scratch2


def test_keyed_slices_retention_cohort_retag(spark):
    """The retention-specific hard case: deleting a user's FIRST active
    week retags the user's whole cohort. Slice recomputation must match
    the from-scratch triangle; untouched users carry forward."""
    import pyspark.sql.functions as F

    from fs_indexer_elasticsearch_spark.operators.ivm import maintain_keyed_slices

    def contrib(df):
        w = df.select("u", "wk").distinct()
        c = w.groupBy("u").agg(F.min("wk").alias("cohort"))
        return w.join(c, "u").select("u", "wk", "cohort")

    def tri(frame):
        return {
            (r.cohort, r.off, r.n)
            for r in frame.groupBy(
                "cohort", (F.col("wk") - F.col("cohort")).alias("off")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    # user 1 active weeks {0, 2}; user 2 active {1}
    base = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 1)], "u long, wk long"
    )
    v0 = contrib(base)
    assert tri(v0) == {(0, 0, 1), (0, 2, 1), (1, 0, 1)}

    # delete user 1's week-0 activity: cohort retags 0 -> 2
    post = base.filter("NOT (u = 1 AND wk = 0)")
    touched = spark.createDataFrame([(1,)], "u long")
    v1 = maintain_keyed_slices(
        v0, touched, "u", lambda t: contrib(post.join(t, ["u"], "left_semi"))
    )
    assert tri(v1) == tri(contrib(post)) == {(2, 0, 1), (1, 0, 1)}
