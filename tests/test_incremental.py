"""Incremental (snapshot-delta) validation: the composed verdicts must
equal a from-scratch run on the current snapshot, for adds, updates,
deletes, per-partition specs, and the empty delta."""

import pytest
from pyspark.sql import functions as F

from xsd2json_spark import spec_from_dict
from xsd2json_spark.engine import ValidationEngine
from xsd2json_spark.engine.incremental import (
    compose_state,
    incremental_verdicts,
    snapshot_delta,
    state_of,
)
from xsd2json_spark.engine.validate import (
    cardinality_violations_from_counts,
    unique_violations_from_counts,
)
from xsd2json_spark.spec.constraints import Unique

SPEC = {
    "name": "inc",
    "key_columns": ["doc_id"],
    "constraints": [
        {"kind": "not_null", "id": "t_nn", "column": "text"},
        {"kind": "length", "id": "t_len", "column": "text", "min": 5, "max": 100},
        {"kind": "unique", "id": "pk", "columns": ["doc_id"]},
    ],
}


def vmap(verdicts):
    return {
        r["constraint_id"]: (r["violation_count"], r["passed"])
        for r in verdicts.collect()
    }


@pytest.fixture()
def snapshots(spark):
    a = spark.createDataFrame(
        [(i, None if i % 5 == 0 else f"text number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    # B: delete >= 180, update % 7 (too-short text), add 500-509
    b = (
        a.filter("doc_id < 180")
        .withColumn("text", F.when(F.col("doc_id") % 7 == 0, F.lit("ab")).otherwise(F.col("text")))
        .unionByName(
            spark.createDataFrame(
                [(500 + i, "tiny" if i % 2 else "long enough text") for i in range(10)],
                "doc_id long, text string",
            )
        )
    )
    return a, b


def test_snapshot_delta_classifies_adds_updates_deletes(spark, snapshots):
    a, b = snapshots
    added, removed = snapshot_delta(a, b, ["doc_id"])
    add_ids = {r["doc_id"] for r in added.select("doc_id").collect()}
    rem_ids = {r["doc_id"] for r in removed.select("doc_id").collect()}
    # updated % 7 rows (with non-null original text) appear on BOTH sides
    updated = {i for i in range(180) if i % 7 == 0 and i % 5 != 0}
    assert updated <= add_ids and updated <= rem_ids
    assert {500 + i for i in range(10)} <= add_ids  # pure adds
    assert {i for i in range(180, 200)} <= rem_ids  # pure deletes
    # unchanged rows appear on neither side
    assert 1 not in add_ids and 1 not in rem_ids


def test_incremental_equals_full_recompute(spark, snapshots):
    a, b = snapshots
    spec = spec_from_dict(SPEC)
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev))
    full = vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert inc == full
    assert inc["t_nn"][0] > 0 and inc["t_len"][0] > 0  # non-vacuous fixture


def test_incremental_applies_max_fail_ratio_like_full_run(spark, snapshots):
    """Composed counters go through the engine's verdict rule: a
    max_fail_ratio constraint tolerated by a from-scratch run on the
    current snapshot is tolerated by the incremental verdicts too."""
    a, b = snapshots
    doc = dict(SPEC, constraints=[
        {"kind": "not_null", "id": "t_nn", "column": "text", "max_fail_ratio": 0.2},
        *SPEC["constraints"][1:],
    ])
    spec = spec_from_dict(doc)
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev))
    full = vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert inc == full
    assert full["t_nn"][0] > 0 and full["t_nn"][1]  # tolerated, not clean
    assert not full["t_len"][1]  # the strict rule still applies


def test_incremental_empty_delta_is_identity(spark, snapshots):
    a, _ = snapshots
    spec = spec_from_dict(SPEC)
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = vmap(incremental_verdicts(spark, spec, a, a, prev))
    assert inc == vmap(prev)


def test_incremental_per_partition_spec(spark):
    """partition_by specs compose per (partition_key, constraint_id),
    including a partition that only exists in the new snapshot."""
    spec = spec_from_dict(
        {
            "name": "incp",
            "key_columns": ["doc_id"],
            "partition_by": ["grp"],
            "constraints": [{"kind": "not_null", "id": "t_nn", "column": "text"}],
        }
    )
    a = spark.createDataFrame(
        [(i, "g%d" % (i % 2), None if i % 4 == 0 else "x") for i in range(40)],
        "doc_id long, grp string, text string",
    )
    b = a.unionByName(
        spark.createDataFrame([(100, "g9", None), (101, "g9", "y")], "doc_id long, grp string, text string")
    )
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = {
        (r["partition_key"], r["constraint_id"]): r["violation_count"]
        for r in incremental_verdicts(spark, spec, a, b, prev).collect()
    }
    full = {
        (r["partition_key"], r["constraint_id"]): r["violation_count"]
        for r in ValidationEngine(spark, spec).run(b).verdicts.collect()
    }
    assert inc == full
    # the brand-new partition composed from zero (keys are to_json structs)
    assert inc[('{"grp":"g9"}', "t_nn")] == 1


def test_incremental_drained_partition_emits_no_row(spark):
    """A partition whose rows are ALL deleted in the new snapshot must
    vanish from the composed verdicts, exactly as it does in a
    from-scratch run (which has no rows to group for it)."""
    spec = spec_from_dict(
        {
            "name": "incd",
            "key_columns": ["doc_id"],
            "partition_by": ["grp"],
            "constraints": [{"kind": "not_null", "id": "t_nn", "column": "text"}],
        }
    )
    a = spark.createDataFrame(
        [(1, "keep", "x"), (2, "keep", None), (3, "gone", "y"), (4, "gone", None)],
        "doc_id long, grp string, text string",
    )
    b = a.filter(F.col("grp") == "keep")
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = {
        (r["partition_key"], r["constraint_id"]): r["violation_count"]
        for r in incremental_verdicts(spark, spec, a, b, prev).collect()
    }
    full = {
        (r["partition_key"], r["constraint_id"]): r["violation_count"]
        for r in ValidationEngine(spark, spec).run(b).verdicts.collect()
    }
    assert inc == full
    assert ('{"grp":"gone"}', "t_nn") not in inc


def test_snapshot_delta_sees_multiplicity_changes(spark):
    """Duplicate keys (nothing enforces uniqueness): a (key, payload)
    whose copy-count changes must surface the NET copies in
    added/removed, and the composed row counters must match a full
    recompute — existence anti-joins would miss the change entirely."""
    a = spark.createDataFrame(
        [(1, "dup"), (1, "dup"), (2, None), (2, None), (2, None), (3, "solo")],
        "doc_id long, text string",
    )
    # B: one more copy of (1,'dup'), one fewer of (2,NULL)
    b = spark.createDataFrame(
        [(1, "dup"), (1, "dup"), (1, "dup"), (2, None), (2, None), (3, "solo")],
        "doc_id long, text string",
    )
    added, removed = snapshot_delta(a, b, ["doc_id"])
    assert [tuple(r) for r in added.collect()] == [(1, "dup")]
    assert [tuple(r) for r in removed.collect()] == [(2, None)]
    spec = spec_from_dict(
        {
            "name": "incm",
            "key_columns": ["doc_id"],
            "constraints": [{"kind": "not_null", "id": "t_nn", "column": "text"}],
        }
    )
    prev = ValidationEngine(spark, spec).run(a).verdicts
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev))
    full = vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert inc == full
    assert inc["t_nn"] == (2, False)  # the deleted NULL copy composed out


def _counts_map(df, cols=("doc_id",)):
    return {tuple(r[c] for c in cols): r["n"] for r in df.collect()}


def test_unique_counts_compose_equals_recompute(spark):
    """The materialized (key, n) uniqueness state rolled forward over
    the delta must equal the unique state recomputed from scratch on
    the new snapshot — including keys whose multiplicity changes, keys
    that vanish (n composes to 0 and is dropped), and NULL keys
    (excluded on both paths)."""
    a = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (3, "z"), (None, "n"), (None, "n")],
        "doc_id long, text string",
    )
    # B: key 1 gains a copy, key 2 leaves, key 4 arrives twice, a NULL stays
    b = spark.createDataFrame(
        [(1, "x"), (1, "x"), (1, "x"), (3, "z"), (4, "w"), (4, "w"), (None, "n")],
        "doc_id long, text string",
    )
    c = Unique(id="pk", columns=["doc_id"])
    added, removed = snapshot_delta(a, b, ["doc_id"])
    composed = compose_state(state_of(a, c), added, removed, c)
    assert _counts_map(composed) == _counts_map(state_of(b, c))
    assert _counts_map(composed) == {(1,): 3, (3,): 1, (4,): 2}


def test_unique_violations_from_counts_matches_engine(spark):
    """Violation rows derived from the state table are byte-identical
    to ValidationEngine.unique_violations on the full snapshot."""
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (3, "e"), (3, "f")],
        "doc_id long, text string",
    )
    c = Unique(id="pk", columns=["doc_id"])
    from_counts = unique_violations_from_counts(state_of(df, c), c)
    spec = spec_from_dict(
        {"name": "u", "key_columns": ["doc_id"], "constraints": [
            {"kind": "unique", "id": "pk", "columns": ["doc_id"]}]}
    )
    eng = ValidationEngine(spark, spec)
    direct = eng.unique_violations(df, spec.constraints[0])
    assert sorted(map(tuple, from_counts.collect())) == sorted(map(tuple, direct.collect()))


def test_incremental_verdicts_with_unique_state(spark, snapshots):
    """incremental_verdicts(states={"pk": ...}) composes the unique
    verdict from the state + delta and still equals a from-scratch run
    — for a snapshot WITH duplicates (fail) and after the duplicates
    are removed (pass again)."""
    a, b = snapshots
    # duplicate some keys in B so the composed unique check has work
    b_dup = b.unionByName(b.filter(F.col("doc_id") % 31 == 1))
    spec = spec_from_dict(SPEC)
    prev = ValidationEngine(spark, spec).run(a).verdicts
    pk = next(c for c in spec.table_level() if c.id == "pk")
    state = {"pk": state_of(a, pk)}
    inc = vmap(incremental_verdicts(spark, spec, a, b_dup, prev, states=state))
    full = vmap(ValidationEngine(spark, spec).run(b_dup).verdicts)
    assert inc == full
    assert inc["pk"][0] > 0 and not inc["pk"][1]

    # roll the state forward and validate the NEXT snapshot (dups gone)
    added, removed = snapshot_delta(a, b_dup, ["doc_id"])
    state2 = {"pk": compose_state(state["pk"], added, removed, pk)}
    prev2 = ValidationEngine(spark, spec).run(b_dup).verdicts
    inc2 = vmap(incremental_verdicts(spark, spec, b_dup, b, prev2, states=state2))
    full2 = vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert inc2 == full2
    assert inc2["pk"] == (0, True)


def test_fk_state_composes_and_matches_engine(spark):
    """FK verdict composed from the fact-side key-count state + delta
    equals a from-scratch run: dangling rows introduced by the delta
    are counted (per ROW, not per key), repaired rows compose out, and
    NULL FK values pass on both paths."""
    dim = spark.createDataFrame([("r1",), ("r2",)], "repo string")
    a = spark.createDataFrame(
        [(1, "r1"), (2, "r2"), (3, "rX"), (4, "rX"), (5, None)],
        "doc_id long, repo string",
    )
    # B: one dangling row repaired, two new dangling rows (same key),
    # one new NULL (passes)
    b = spark.createDataFrame(
        [(1, "r1"), (2, "r2"), (3, "r1"), (4, "rX"), (5, None),
         (6, "rY"), (7, "rY"), (8, None)],
        "doc_id long, repo string",
    )
    spec = spec_from_dict(
        {"name": "fkinc", "key_columns": ["doc_id"], "constraints": [
            {"kind": "foreign_key", "id": "fk", "columns": ["repo"],
             "ref_table": "repos_dim", "broadcast": True}]}
    )
    dims = {"repos_dim": dim}
    prev = ValidationEngine(spark, spec, dims=dims).run(a).verdicts
    state = {"fk": state_of(a, spec.constraints[0])}
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev, dims=dims, states=state))
    full = vmap(ValidationEngine(spark, spec, dims=dims).run(b).verdicts)
    assert inc == full
    assert inc["fk"] == (3, False)  # rows 4, 6, 7


def test_fk_state_survives_dim_change(spark):
    """The FK state is fact-side only: a dim change between snapshots
    needs NO state rebuild — the current dim enters only at the
    verdict-time anti-join."""
    a = spark.createDataFrame(
        [(1, "r1"), (2, "r2"), (3, "r2")], "doc_id long, repo string"
    )
    b = a.unionByName(
        spark.createDataFrame([(4, "r1")], "doc_id long, repo string")
    )
    spec = spec_from_dict(
        {"name": "fkdim", "key_columns": ["doc_id"], "constraints": [
            {"kind": "foreign_key", "id": "fk", "columns": ["repo"],
             "ref_table": "repos_dim", "broadcast": True}]}
    )
    dim_a = spark.createDataFrame([("r1",), ("r2",)], "repo string")
    dim_b = spark.createDataFrame([("r1",)], "repo string")  # r2 retired
    prev = ValidationEngine(spark, spec, dims={"repos_dim": dim_a}).run(a).verdicts
    state = {"fk": state_of(a, spec.constraints[0])}
    inc = vmap(incremental_verdicts(
        spark, spec, a, b, prev, dims={"repos_dim": dim_b}, states=state
    ))
    full = vmap(ValidationEngine(spark, spec, dims={"repos_dim": dim_b}).run(b).verdicts)
    assert inc == full
    assert inc["fk"] == (2, False)  # rows 2, 3 now dangle against dim_b


def test_cardinality_state_composes_with_null_groups(spark):
    """Cardinality verdict composed from a NULL-keeping group-count
    state equals a from-scratch run — including a NULL group key (which
    groupBy keeps and an equi-join composition would silently drop) and
    a group that drains to zero (no row, so a min bound never fires on
    a vanished group)."""
    a = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g2"), (4, None), (5, None), (6, "g3")],
        "doc_id long, grp string",
    )
    # B: g1 grows past max, the NULL group gains a row, g3 drains away
    b = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (7, "g1"), (8, "g1"), (3, "g2"),
         (4, None), (5, None), (9, None)],
        "doc_id long, grp string",
    )
    spec = spec_from_dict(
        {"name": "cinc", "key_columns": ["doc_id"], "constraints": [
            {"kind": "cardinality", "id": "card", "group_by": ["grp"],
             "min": 2, "max": 3}]}
    )
    prev = ValidationEngine(spark, spec).run(a).verdicts
    card = spec.constraints[0]
    state = {"card": state_of(a, card)}
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev, states=state))
    full = vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert inc == full
    assert inc["card"] == (2, False)  # g1 (4 > max), g2 (1 < min); NULL=3 ok

    # violation ROWS from the composed state are byte-identical to the
    # engine's from-scratch cardinality_violations on B
    added, removed = snapshot_delta(a, b, ["doc_id"])
    composed = compose_state(state["card"], added, removed, card)
    from_counts = cardinality_violations_from_counts(composed, card)
    direct = ValidationEngine(spark, spec).cardinality_violations(b, card)
    assert sorted(map(tuple, from_counts.collect())) == sorted(map(tuple, direct.collect()))


def test_all_three_states_together(spark):
    """With unique + FK + cardinality states all supplied, the verdict
    table composes every key-shuffle table check and still equals a
    from-scratch run (quantile/drift absent; row-level rides the
    delta)."""
    dim = spark.createDataFrame([("r1",), ("r2",)], "repo string")
    a = spark.createDataFrame(
        [(i, "r%d" % (1 + i % 2), "text number %d" % i) for i in range(50)],
        "doc_id long, repo string, text string",
    )
    b = (
        a.filter("doc_id < 45")
        .unionByName(spark.createDataFrame(
            [(100, "rZ", "dangling"), (100, "r1", "duplicate key"), (101, "r1", "ab")],
            "doc_id long, repo string, text string",
        ))
    )
    spec = spec_from_dict(
        {"name": "all3", "key_columns": ["doc_id"], "constraints": [
            {"kind": "length", "id": "t_len", "column": "text", "min": 5, "max": 100},
            {"kind": "unique", "id": "pk", "columns": ["doc_id"]},
            {"kind": "foreign_key", "id": "fk", "columns": ["repo"],
             "ref_table": "repos_dim", "broadcast": True},
            {"kind": "cardinality", "id": "card", "group_by": ["repo"],
             "min": 1, "max": 30}]}
    )
    dims = {"repos_dim": dim}
    prev = ValidationEngine(spark, spec, dims=dims).run(a).verdicts
    states = {c.id: state_of(a, c) for c in spec.table_level()}
    assert sorted(states) == ["card", "fk", "pk"]
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev, dims=dims, states=states))
    full = vmap(ValidationEngine(spark, spec, dims=dims).run(b).verdicts)
    assert inc == full
    assert inc["pk"][0] > 0 and inc["fk"][0] > 0 and inc["t_len"][0] > 0


def test_drift_counts_compose_equals_recompute(spark):
    """Composed chi2 drift state == from-scratch category counts of the
    current snapshot, for adds, updates (category flips), and
    deletes — global and per-group shapes."""
    from xsd2json_spark.spec.constraints import Drift

    a = spark.createDataFrame(
        [(i, ["py", "go", "js"][i % 3], "s%d" % (i % 4)) for i in range(120)],
        "doc_id long, lang string, src string",
    )
    # B: drop >= 100, flip lang of %7 to 'rs', add new rows incl. a NULL lang
    b = (
        a.filter("doc_id < 100")
        .withColumn("lang", F.when(F.col("doc_id") % 7 == 0, F.lit("rs")).otherwise(F.col("lang")))
        .unionByName(spark.createDataFrame(
            [(200, "py", "s0"), (201, None, "s1")], "doc_id long, lang string, src string"))
    )
    added, removed = snapshot_delta(a, b, ["doc_id"])
    for c in (
        Drift(id="d", column="lang", test="chi2", baseline="base"),
        Drift(id="dg", column="lang", test="chi2", baseline="base", group_by=["src"]),
    ):
        composed = compose_state(state_of(a, c), added, removed, c)
        scratch = state_of(b, c)
        assert sorted(map(tuple, composed.collect())) == sorted(map(tuple, scratch.collect())), c.id


def test_incremental_drift_verdicts_match_full_run(spark):
    """incremental_verdicts with drift states equals the from-scratch
    engine verdicts — drifted and undrifted scenarios, global and
    per-group (incl. the vanished-group failure)."""
    from xsd2json_spark.engine.drift import make_categorical_baseline

    base_df = spark.createDataFrame(
        [(i, ["py", "go"][i % 2], "g%d" % (i % 2)) for i in range(400)],
        "doc_id long, lang string, grp string",
    )
    a = spark.createDataFrame(
        [(i, ["py", "go"][i % 2], "g%d" % (i % 2)) for i in range(300)],
        "doc_id long, lang string, grp string",
    )
    # B drifts hard: most rows become 'py'; group g1 vanishes entirely
    b = spark.createDataFrame(
        [(i, "py" if i % 10 else "go", "g0") for i in range(300)],
        "doc_id long, lang string, grp string",
    )
    spec = spec_from_dict({
        "name": "drift_inc", "key_columns": ["doc_id"], "constraints": [
            {"kind": "not_null", "id": "nn", "column": "lang"},
            {"kind": "drift", "id": "dr", "column": "lang", "test": "chi2",
             "baseline": "base"},
            {"kind": "drift", "id": "drg", "column": "lang", "test": "chi2",
             "baseline": "base_by", "group_by": ["grp"]},
        ]})
    baselines = {
        "base": make_categorical_baseline(base_df, "lang"),
        "base_by": make_categorical_baseline(base_df, "lang", group_by=["grp"]),
    }
    drift_cs = {c.id: c for c in spec.table_level()}
    state = {cid: state_of(a, c) for cid, c in drift_cs.items()
             if c.kind == "drift"}
    for cur in (a, b):  # undrifted (B==A shape) and drifted
        prev = ValidationEngine(spark, spec, baselines=baselines).run(a).verdicts
        inc = incremental_verdicts(
            spark, spec, a, cur, prev, states=state, baselines=baselines)
        full = ValidationEngine(spark, spec, baselines=baselines).run(cur).verdicts
        imap = {(r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
                for r in inc.collect()}
        fmap = {(r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
                for r in full.collect()}
        assert imap == fmap
    # drifted run actually fails, incl. per-group rows for g0 (drift)
    # and g1 (vanished)
    assert not imap[("ALL", "dr")][1]
    assert any(k[1] == "drg" and not v[1] for k, v in imap.items())


def test_incremental_ks_drift_matches_full_run(spark):
    """KS drift from a composed bin state == the full run's verdict
    over a fresh state (identical statistic: both read the ECDF only at the
    baseline's quantile grid), for drifted and undrifted snapshots
    with adds, updates, and deletes."""
    from xsd2json_spark.engine.drift import make_numeric_baseline

    base_df = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(500)], "doc_id long, x double"
    )
    a = spark.createDataFrame(
        [(i, float((i * 7) % 100)) for i in range(400)], "doc_id long, x double"
    )
    # B: delete a tail, shift a stripe of values upward (drift), add rows
    b = (
        a.filter("doc_id < 350")
        .withColumn("x", F.when(F.col("doc_id") % 2 == 0, F.col("x") + 400.0).otherwise(F.col("x")))
        .unionByName(spark.createDataFrame(
            [(900 + i, 480.0 + i) for i in range(30)], "doc_id long, x double"))
    )
    spec = spec_from_dict({
        "name": "ks_inc", "key_columns": ["doc_id"], "constraints": [
            {"kind": "not_null", "id": "nn", "column": "x"},
            {"kind": "drift", "id": "ks", "column": "x", "test": "ks",
             "baseline": "base"},
        ]})
    baselines = {"base": make_numeric_baseline(base_df, "x")}
    ks_c = next(c for c in spec.table_level() if c.kind == "drift")
    state = {"ks": state_of(a, ks_c, baselines)}
    for cur in (a, b):
        prev = ValidationEngine(spark, spec, baselines=baselines).run(a).verdicts
        inc = incremental_verdicts(
            spark, spec, a, cur, prev, states=state, baselines=baselines)
        full = ValidationEngine(spark, spec, baselines=baselines).run(cur).verdicts
        imap = vmap(inc)
        assert imap == vmap(full)
    assert not imap["ks"][1]  # the shifted snapshot drifts


def test_incremental_ks_by_drift_matches_full_run(spark):
    """Per-group KS drift composed from build_states' per-group bin
    state plus the delta == the full run's per-group verdicts: an
    untouched group passes, a shifted group fails, a vanished baseline
    group and a group the baseline never saw fail too."""
    from xsd2json_spark.engine.drift import make_numeric_baseline
    from xsd2json_spark.engine.incremental import build_states

    cols = "doc_id long, x double, grp string"
    base_df = spark.createDataFrame([(i, float(i % 100), "g%d" % (i % 3)) for i in range(600)], cols)
    a = spark.createDataFrame([(i, float((i * 7) % 100), "g%d" % (i % 3)) for i in range(450)], cols)
    # B: g2 vanishes, g1 shifts upward, rows of an unseen group g9 arrive
    b = (
        a.filter("grp != 'g2'")
        .withColumn("x", F.when(F.col("grp") == "g1", F.col("x") + 400.0).otherwise(F.col("x")))
        .unionByName(spark.createDataFrame([(900 + i, float(i), "g9") for i in range(20)], cols))
    )
    spec = spec_from_dict({
        "name": "ks_by_inc", "key_columns": ["doc_id"], "constraints": [
            {"kind": "not_null", "id": "nn", "column": "x"},
            {"kind": "drift", "id": "ksg", "column": "x", "test": "ks",
             "baseline": "base", "group_by": ["grp"]},
        ]})
    baselines = {"base": make_numeric_baseline(base_df, "x", group_by=["grp"])}
    states = build_states(a, spec, baselines=baselines)
    assert states["ksg"].columns == ["grp", "__bin", "n"]

    def pmap(verdicts):
        return {(r["partition_key"], r["constraint_id"]): (r["violation_count"], r["passed"])
                for r in verdicts.collect()}

    prev = ValidationEngine(spark, spec, baselines=baselines).run(a).verdicts
    for cur in (a, b):
        inc = incremental_verdicts(spark, spec, a, cur, prev, states=states, baselines=baselines)
        full = ValidationEngine(spark, spec, baselines=baselines).run(cur).verdicts
        imap = pmap(inc)
        assert imap == pmap(full)
    assert {k: v[1] for k, v in imap.items() if k[1] == "ksg"} == {
        ("g0", "ksg"): True, ("g1", "ksg"): False, ("g2", "ksg"): False, ("g9", "ksg"): False,
    }


def test_build_states_covers_all_kinds(spark):
    """build_states emits exactly the maintainable states (unique, FK,
    cardinality, chi2 drift, KS drift global and per group — not
    quantile), each keyed by its kind's key columns; the kinds without
    a state refuse loudly."""
    from xsd2json_spark.engine.drift import make_numeric_baseline
    from xsd2json_spark.engine.incremental import build_states

    df = spark.createDataFrame(
        [(i, "r%d" % (i % 3), float(i % 50), ["py", "go"][i % 2]) for i in range(100)],
        "doc_id long, repo string, x double, lang string",
    )
    spec = spec_from_dict({
        "name": "s", "key_columns": ["doc_id"], "constraints": [
            {"kind": "unique", "id": "pk", "columns": ["doc_id"]},
            {"kind": "foreign_key", "id": "fk", "columns": ["repo"], "ref_table": "r"},
            {"kind": "cardinality", "id": "card", "group_by": ["repo"], "min": 1},
            {"kind": "drift", "id": "chi", "column": "lang", "test": "chi2", "baseline": "b"},
            {"kind": "drift", "id": "ks", "column": "x", "test": "ks", "baseline": "b"},
            {"kind": "drift", "id": "ksg", "column": "x", "test": "ks", "baseline": "bg",
             "group_by": ["repo"]},
            {"kind": "quantile", "id": "q", "column": "x", "p": 0.5, "min": 0},
        ]})
    baselines = {"b": make_numeric_baseline(df, "x"),
                 "bg": make_numeric_baseline(df, "x", group_by=["repo"])}
    states = build_states(df, spec, baselines=baselines)
    assert sorted(states) == ["card", "chi", "fk", "ks", "ksg", "pk"]  # no q
    assert states["pk"].columns == ["doc_id", "n"]
    assert states["fk"].columns == ["repo", "n"]
    assert states["card"].columns == ["repo", "n"]
    assert states["ks"].columns == ["__bin", "n"]
    assert states["ksg"].columns == ["repo", "__bin", "n"]
    assert states["chi"].columns == ["__cat", "n"]
    by_id = {c.id: c for c in spec.table_level()}
    with pytest.raises(ValueError, match="no count state"):
        state_of(df, by_id["q"], baselines)


def test_incremental_chi2_empty_baseline_raises_like_full_run(spark, snapshots):
    """A global chi2 Drift against an empty baseline is a spec error on
    BOTH paths: the composed-state verdict reads through the same chi2
    reader as the full run, so it cannot quietly emit a failing row."""
    from xsd2json_spark.spec.constraints import SpecError

    a, b = snapshots
    spec = spec_from_dict({
        "name": "empty_base", "key_columns": ["doc_id"], "constraints": [
            {"kind": "not_null", "id": "t_nn", "column": "text"},
            {"kind": "drift", "id": "dr", "column": "text", "test": "chi2", "baseline": "base"},
        ]})
    baselines = {"base": {"kind": "categorical", "counts": {}}}
    dr = spec.table_level()[0]
    with pytest.raises(SpecError, match="empty baseline"):
        ValidationEngine(spark, spec, baselines=baselines).run(b)
    prev = ValidationEngine(spark, spec_from_dict({
        "name": "empty_base", "key_columns": ["doc_id"],
        "constraints": [{"kind": "not_null", "id": "t_nn", "column": "text"}]})).run(a).verdicts
    with pytest.raises(SpecError, match="empty baseline"):
        incremental_verdicts(
            spark, spec, a, b, prev, states={"dr": state_of(a, dr)}, baselines=baselines)


def test_schema_delta_and_verdict(spark):
    """Schema evolution: adds/removes/retypes/nullability all surface;
    the gate passes additive evolution, fails removals and any change
    touching a spec-referenced column."""
    from xsd2json_spark.engine.incremental import schema_delta, schema_delta_verdict

    a = spark.createDataFrame([(1, "x", 1.0, "k")], "id long, s string, f double, extra string")
    b_add = spark.createDataFrame([(1, "x", 1.0, "k", True)],
                                  "id long, s string, f double, extra string, flag boolean")
    b_rm = spark.createDataFrame([(1, "x", 1.0)], "id long, s string, f double")
    b_retype = spark.createDataFrame([(1, "x", 1, "k")], "id long, s string, f int, extra string")

    assert schema_delta(a, a) == []
    assert schema_delta(a, b_add) == [
        {"change": "added", "column": "flag", "prev": None, "cur": "boolean"}]
    assert schema_delta(a, b_rm) == [
        {"change": "removed", "column": "extra", "prev": "string", "cur": None}]
    assert schema_delta(a, b_retype) == [
        {"change": "type_changed", "column": "f", "prev": "double", "cur": "int"}]

    spec = spec_from_dict({"name": "s", "key_columns": ["id"], "constraints": [
        {"kind": "not_null", "id": "nn", "column": "s"},
        {"kind": "range", "id": "r", "column": "f", "min": 0}]})
    v_add, ch = schema_delta_verdict(a, b_add, spec)
    assert v_add["passed"] and v_add["evaluated_count"] == 1 and len(ch) == 1
    v_rm, _ = schema_delta_verdict(a, b_rm, spec)
    assert not v_rm["passed"]  # removal not in the additive allow-list
    # an ALLOWED kind still fails when the column is spec-referenced
    b_retype_f = spark.createDataFrame([(1, "x", 1, "k")], "id long, s string, f int, extra string")
    v_ref, _ = schema_delta_verdict(a, b_retype_f, spec, allow=("added", "type_changed"))
    assert not v_ref["passed"]
    # ... but a non-referenced column's allowed change passes
    b_retype_extra = spark.createDataFrame([(1, "x", 1.0, 2)], "id long, s string, f double, extra int")
    v_ok, _ = schema_delta_verdict(a, b_retype_extra, spec, allow=("added", "type_changed"))
    assert v_ok["passed"]


NULL_SPEC = {
    "name": "nulls", "key_columns": ["doc_id"], "constraints": [
        {"kind": "unique", "id": "unique", "columns": ["k"]},
        {"kind": "foreign_key", "id": "fk", "columns": ["k"], "ref_table": "dim",
         "broadcast": True},
        {"kind": "cardinality", "id": "cardinality", "group_by": ["grp"], "min": 2, "max": 3},
        {"kind": "drift", "id": "chi2", "column": "cat", "test": "chi2", "baseline": "base",
         "group_by": ["grp"]},
        {"kind": "drift", "id": "ks_by", "column": "cat", "expr": "length(cat)", "test": "ks",
         "baseline": "nbase", "group_by": ["grp"]},
    ]}
NULL_COLS = "doc_id long, k string, grp string, cat string"


@pytest.mark.parametrize("cid", ["unique", "fk", "cardinality", "chi2", "ks_by"])
def test_null_rules_shared_by_engine_state_and_stream(spark, tmp_path, cid):
    """One NULL rule per kind across every path over a frame with NULL
    key, group and category values: unique and FK drop NULL keys,
    cardinality keeps the NULL group, chi2 and per-group KS drop NULL
    values but keep the NULL group (as the \\N group). The engine's
    violations equal the reader over state_of, compose_state(state_of(a),
    delta) equals state_of(b), the stream-static FK anti-join flags the
    same rows as the batch one, and the stateful stream unique check
    reports the same duplicates as the batch one (NULL keys are no
    duplicates)."""
    from collections import Counter
    import json

    from xsd2json_spark.engine.drift import drift_verdicts, make_categorical_baseline, make_numeric_baseline
    from xsd2json_spark.engine.validate import fk_dangling
    from xsd2json_spark.streaming.validate_stream import stream_fk_violations, stream_unique_violations

    a = spark.createDataFrame([
        (1, "r1", "g1", "py"), (2, "r1", "g1", None), (3, "rX", None, "go"),
        (4, None, None, "py"), (5, None, "g2", None), (6, "r2", "g2", "go"),
        (7, "rX", "g1", "py"),
    ], NULL_COLS)
    # B: row 7 deleted, row 2 gains a category, NULL-key / NULL-group /
    # NULL-category rows added
    b = a.filter("doc_id != 7").withColumn(
        "cat", F.when(F.col("doc_id") == 2, F.lit("go")).otherwise(F.col("cat"))
    ).unionByName(spark.createDataFrame(
        [(8, None, None, None), (9, "rY", None, "py"), (10, "r1", "g2", None)], NULL_COLS))
    spec = spec_from_dict(NULL_SPEC)
    c = next(x for x in spec.table_level() if x.id == cid)
    dim = spark.createDataFrame([("r1",), ("r2",)], "k string")
    baselines = {"base": make_categorical_baseline(a, "cat", group_by=["grp"]),
                 "nbase": make_numeric_baseline(a, "length(cat)", group_by=["grp"])}
    eng = ValidationEngine(spark, spec, dims={"dim": dim}, baselines=baselines)
    state_b = state_of(b, c, baselines)
    rows = lambda df: sorted(map(tuple, df.collect()), key=repr)  # noqa: E731

    # the NULL rule, read off the state's keys
    keys = {r[:-1] for r in state_b.collect()}
    if cid in ("unique", "fk"):
        assert (None,) not in keys and ("rY",) in keys
    elif cid == "cardinality":
        assert (None,) in keys
    elif cid == "chi2":
        assert all(cat is not None for _, cat in keys) and (None, "py") in keys
    else:
        per_grp = Counter()
        for r in state_b.collect():
            per_grp[r["grp"]] += r["n"]
        # 6 non-NULL cat values, 3 of them in the NULL group; every group
        # has a baseline grid, so no row takes the unseen-group bin
        assert per_grp == {"g1": 2, None: 3, "g2": 1}
        assert all(b_ >= 0 for _, b_ in keys)

    # engine violations == the reader over state_of
    if cid == "unique":
        direct = eng.unique_violations(b, c)
        assert rows(direct) == rows(unique_violations_from_counts(state_b, c))
        assert {r["k"] for r in direct.collect()} == {"r1"}  # the two NULLs are no dup
    elif cid == "fk":
        direct = eng.fk_violations(b, c)
        flagged = Counter(json.loads(r["detail"])["k"] for r in direct.collect())
        assert flagged == {r["k"]: r["n"] for r in fk_dangling(state_b, dim, c).collect()}
        assert flagged == {"rX": 1, "rY": 1}  # NULL FK values pass
    elif cid == "cardinality":
        direct = eng.cardinality_violations(b, c)
        assert rows(direct) == rows(cardinality_violations_from_counts(state_b, c))
        assert {r["grp"] for r in direct.collect()} == {None}  # NULL group: 4 rows > max
    else:
        full = [tuple(r) for r in eng.run(b).verdicts.filter(F.col("constraint_id") == cid)
                .orderBy("partition_key").collect()]
        assert full == sorted(map(tuple, drift_verdicts(None, c, baselines, counts=state_b).collect()))
        assert "\\N" in {r[0] for r in full}  # the NULL group gets its verdict

    # composed state == from-scratch state on B
    added, removed = snapshot_delta(a, b, ["doc_id"])
    assert rows(compose_state(state_of(a, c, baselines), added, removed, c, baselines)) == rows(state_b)

    if cid == "fk":
        streamed = stream_fk_violations(b, c, dim)
        assert sorted(r["doc_id"] for r in streamed.collect()) == sorted(
            int(r["doc_id"]) for r in direct.collect())
    if cid == "unique":
        src = str(tmp_path / "unique_src")
        b.write.parquet(src)
        stream = spark.readStream.schema(b.schema).parquet(src)
        q = (
            stream_unique_violations(stream, c).writeStream.format("memory")
            .queryName("null_rule_unique").outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        dups = {r["k"]: r["dup_count"] for r in spark.table("null_rule_unique").collect()}
        assert dups == {r["k"]: r["n"] - 1 for r in state_b.collect() if r["n"] > 1} == {"r1": 2}


def test_incremental_without_states_leaves_nothing_persisted(spark, snapshots):
    """A table check without a state reads a fresh count state of the
    current snapshot inside the one lazy plan, so collecting the
    incremental verdicts leaves no persisted frame behind that the
    caller could not release (a nested engine run left its unique
    dup-hash set and violations union cached)."""
    a, b = snapshots
    spec = spec_from_dict(SPEC)
    prev = ValidationEngine(spark, spec).run(a).verdicts.cache()
    prev.count()
    persisted = lambda: spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: E731
    before = persisted()
    got = vmap(incremental_verdicts(spark, spec, a, b, prev))
    assert persisted() == before
    prev.unpersist()
    assert got["pk"] == (0, True)


def test_incremental_stateless_table_checks_match_full_run(spark):
    """Without states, unique, cardinality, quantile and FD verdicts of
    an incremental run equal the full run's, passing and failing."""
    a = spark.createDataFrame(
        [(i, "r%d" % (i % 4), float(i % 50), "k%d" % (i % 4)) for i in range(200)],
        "doc_id long, repo string, x double, dep string",
    )
    # B: a duplicated key, a fifth repo of one row, larger x, and one
    # determinant r0 mapped to two dep values
    b = a.filter("doc_id < 190").withColumn("x", F.col("x") * 3).unionByName(spark.createDataFrame(
        [(5, "r9", 1.0, "k9"), (900, "r0", 2.0, "zz")], "doc_id long, repo string, x double, dep string"))
    spec = spec_from_dict({
        "name": "stateless", "key_columns": ["doc_id"], "constraints": [
            {"kind": "not_null", "id": "nn", "column": "repo"},
            {"kind": "unique", "id": "pk", "columns": ["doc_id"]},
            {"kind": "cardinality", "id": "card", "group_by": ["repo"], "min": 2},
            {"kind": "quantile", "id": "q", "column": "x", "p": 0.5, "max": 40.0, "approx": False},
            {"kind": "functional_dependency", "id": "fd", "determinants": ["repo"], "dependent": "dep"},
        ]})
    prev = ValidationEngine(spark, spec).run(a).verdicts
    assert vmap(incremental_verdicts(spark, spec, a, a, prev)) == vmap(ValidationEngine(spark, spec).run(a).verdicts)
    inc = vmap(incremental_verdicts(spark, spec, a, b, prev))
    assert inc == vmap(ValidationEngine(spark, spec).run(b).verdicts)
    assert {k for k, (_, ok) in inc.items() if not ok} == {"pk", "card", "q", "fd"}
