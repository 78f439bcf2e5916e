"""The systematic broadcast-bound audit (VERDICT r12 item 1).

The r12 source_overlap_matrix OOM was caught EMPIRICALLY — an
interleaved sf10 sweep happened to remove heap slack and a data-sized
vocabulary frame that Catalyst had estimate-sized under the 64 MB
threshold died mid-broadcast. The class (a grouped-aggregate / distinct
output ∝ corpus planned as a join build side) is latent anywhere in the
repo; SCALE.md's own lesson says it should be a GATE, not a memory.

``zx_spark.plan.broadcast_audit`` walks the physical plan structurally
(py4j over the SparkPlan tree, no string parsing) and classifies every
BroadcastExchange input as bounded (model literals, stat rows, LIMIT,
global aggregates, aggregates on caller-attested bounded key domains),
tracked (scan chains whose size estimate is real file bytes — those
re-plan to sort-merge at scale by themselves), or UNTRUSTED (the
r12 class). This module unit-tests the classifier, demonstrates it
would have caught the r12 bug (the same vocabulary-self-join shape
WITHOUT the merge hint flags; the shipped operator passes), and sweeps
every driver-registry query's plan at sf0.01.
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")

from zx_spark.plan import assert_bounded_broadcasts, broadcast_audit

SF = "/root/testdata/sf0.01"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


# ------------------------------------------------------------ classifier units


def test_literal_model_frame_is_bounded(spark):
    lit = spark.createDataFrame([(1, 0.5), (2, 0.7)], "l_orderkey long, w double")
    j = _li(spark).join(F.broadcast(lit), "l_orderkey")
    rep = assert_bounded_broadcasts(j)
    assert any(e["level"] == "bounded" for e in rep)


def test_plain_dim_scan_is_tracked_not_flagged(spark):
    nat = spark.read.parquet(f"{SF}/nation.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    j = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    rep = assert_bounded_broadcasts(j)
    # a scanned table's estimate is real file bytes — self-corrects at
    # scale, so it is trusted (and promotable to bounded via dim_tables)
    assert any(e["level"] == "tracked" for e in rep)
    rep2 = broadcast_audit(j, dim_tables=("nation",))
    assert any(e["level"] == "bounded" and "nation" in e["reason"] for e in rep2)


def test_data_sized_agg_broadcast_flags(spark):
    """The r12 class in miniature: a distinct/grouped agg keyed by a
    hash column over a real table scan, broadcast by Catalyst's own
    estimate (no author hint — the silent class the gate exists for)."""
    d = _docs(spark).select("doc_id", "text", F.xxhash64("text").alias("h"))
    vocab = d.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    # the probe side keeps the wide text column so Catalyst's width-based
    # estimate puts the 8-byte agg output under the threshold — the same
    # estimate inversion that broadcast source_overlap's vocabulary
    j = d.join(vocab, "h")
    rep = broadcast_audit(j)
    assert any(
        e["level"] == "untrusted" and not e["hinted"] for e in rep
    ), rep
    with pytest.raises(AssertionError, match="data-sized broadcast"):
        assert_bounded_broadcasts(j)


def test_author_hinted_broadcast_passes_by_default(spark):
    """An EXPLICIT F.broadcast is the operator bounding the frame (the
    contaminated_docs benchmark-set contract): recorded as untrusted+
    hinted, passes the default assert, fails fail_hinted=True."""
    d = _docs(spark).select(F.xxhash64("text").alias("h"))
    vocab = d.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    j = d.join(F.broadcast(vocab), "h")
    rep = assert_bounded_broadcasts(j)
    assert any(e["level"] == "untrusted" and e["hinted"] for e in rep), rep
    with pytest.raises(AssertionError, match="data-sized broadcast"):
        assert_bounded_broadcasts(j, fail_hinted=True)


def test_bounded_keys_attestation_passes(spark):
    d = _docs(spark)
    per_src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    j = d.join(per_src, "source")
    with pytest.raises(AssertionError):
        assert_bounded_broadcasts(j)  # unattested: source could be any card
    rep = assert_bounded_broadcasts(j, bounded_keys=("source",))
    assert any(e["level"] == "bounded" for e in rep)


def test_limit_and_global_agg_are_bounded(spark):
    li = _li(spark)
    top = li.orderBy(F.col("l_extendedprice").desc()).limit(10)
    j = li.join(F.broadcast(top.select("l_orderkey")), "l_orderkey")
    assert assert_bounded_broadcasts(j)

    tot = li.agg(F.sum("l_quantity").alias("t"))
    j2 = li.crossJoin(F.broadcast(tot))
    rep = broadcast_audit(j2)
    assert all(e["level"] != "untrusted" for e in rep), rep


def test_agg_over_bounded_input_is_bounded(spark):
    lit = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "l_orderkey long, tag string"
    )
    sizes = lit.groupBy("tag").agg(F.count(F.lit(1)).alias("n"))
    j = _li(spark).join(
        F.broadcast(lit.join(sizes, "tag")), "l_orderkey"
    )
    assert assert_bounded_broadcasts(j)


def test_fact_fact_join_broadcast_flags(spark):
    li = _li(spark)
    ords = spark.read.parquet(f"{SF}/orders.parquet")
    inner = li.join(ords, li.l_orderkey == ords.o_orderkey).select(
        li.l_orderkey.alias("k")
    )
    j = li.join(F.broadcast(inner), li.l_orderkey == F.col("k"))
    rep = broadcast_audit(j)
    assert any(e["level"] == "untrusted" for e in rep), rep


# --------------------------------------------------- the r12 regression shape


def test_r12_source_overlap_shape_without_hint_flags(spark):
    """The exact r12 failure shape, re-built WITHOUT decontaminate's
    merge hint: per-source distinct shingle-hash vocabulary self-joined
    on the hash. Catalyst estimate-sizes the distinct output under the
    broadcast threshold and plans a data-sized broadcast — the audit
    must flag it (this is the 'would it have caught source_overlap'
    demonstration the r12 verdict asked for)."""
    d = _docs(spark).select(
        "source", F.xxhash64("text").alias("__h")
    )
    sv = d.select("source", "__h").distinct()
    a = sv.select(F.col("source").alias("source_a"), "__h")
    b = sv.select(F.col("source").alias("source_b"), "__h")
    shared = a.join(b, "__h").filter(F.col("source_a") < F.col("source_b"))
    rep = broadcast_audit(shared, bounded_keys=("source", "source_a", "source_b"))
    # only meaningful if Catalyst actually picked broadcast here (it does
    # at sf0.01, as it did at sf10 in r12); if a Spark upgrade changes the
    # default strategy the shape is safe and the audit stays quiet
    assert rep, "expected Catalyst to plan a broadcast for this shape"
    assert any(e["level"] == "untrusted" for e in rep), rep


def test_shipped_source_overlap_matrix_is_clean(spark):
    from zx_spark.operators.decontaminate import source_overlap_matrix

    out = source_overlap_matrix(_docs(spark), text_col="text", source_col="source")
    assert_bounded_broadcasts(
        out, bounded_keys=("__src", "source_a", "source_b")
    )


# ------------------------------------------- operator shapes the advisor named


def test_duplicated_spans_no_data_sized_broadcast(spark):
    from zx_spark.operators.spans import duplicated_spans

    out = duplicated_spans(_docs(spark), text_col="text", id_col="doc_id")
    assert_bounded_broadcasts(out)


def test_pagerank_no_data_sized_broadcast(spark):
    from zx_spark.operators.graph import pagerank

    ev = spark.read.parquet(f"{SF}/events.parquet")
    edges = ev.select(
        F.col("user_id").alias("src"),
        (F.col("user_id") * 7 % 97).alias("dst"),
    )
    out = pagerank(edges, "src", "dst", iters=2)
    assert_bounded_broadcasts(out)


def test_retention_cohorts_no_data_sized_broadcast(spark):
    from zx_spark.operators.funnel import retention_cohorts

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = retention_cohorts(ev, user_col="user_id", ts_col="ts")
    assert_bounded_broadcasts(out)


def test_extra_operator_plans_no_data_sized_broadcast(spark):
    """Operators NOT exercised by a registry row (applied/drop forms and
    scale-method variants) get the same gate — the registry sweep alone
    would leave them to be caught by heap pressure at sf10."""
    from zx_spark.operators.decontaminate import (
        drop_boilerplate_docs,
        scrub_repeated_lines,
    )
    from zx_spark.operators.joins import resolve_entities
    from zx_spark.operators.spans import strip_duplicated_spans

    docs = _docs(spark).select("doc_id", "text")
    frames = {
        "drop_boilerplate_docs": drop_boilerplate_docs(docs),
        "scrub_repeated_lines[join]": scrub_repeated_lines(
            docs, method="join"
        ),
        "strip_duplicated_spans": strip_duplicated_spans(docs),
        "resolve_entities": resolve_entities(
            docs.select(
                "doc_id", F.substring("text", 1, 24).alias("name")
            ),
            "name",
            "doc_id",
        ),
    }
    for name, df in frames.items():
        try:
            assert_bounded_broadcasts(df)
        except AssertionError as e:
            raise AssertionError(f"{name}: {e}") from e


# ------------------------------------------------------- full registry sweep

# Per-name attestations: explicit, reviewable claims that a grouping key's
# domain is bounded at any corpus size (enum-like columns) or that a table
# is a true dimension. Everything not listed here must already be bounded,
# a tracked scan, or shuffle-pinned — the sweep fails otherwise.
_BOUNDED_KEYS: dict[str, tuple] = {
    # source_overlap arm: the per-source vocabulary SIZES and the
    # C(sources, 2) matrix are keyed by the corpus source enum — bounded
    # at any corpus size (a mixing pipeline has tens of sources, not
    # millions; since r14 the data-sized vocabulary is never joined at
    # all — per-hash source-set aggregation replaced the r12-class
    # self-join outright)
    "decontaminate_ngrams": ("__src", "source_a", "source_b"),
    "op_source_overlap": ("__src", "source_a", "source_b"),
}
_DIM_TABLES: dict[str, tuple] = {}


def _registry():
    import __spark_entry__ as entry

    return entry.queries()


def test_registry_plan_broadcasts_bounded(spark, registry_frames):
    """ONE consolidated pass over session-shared frames (r15, VERDICT
    r14 item 1 — the per-name parametrize re-ran every query builder
    this sweep shares with the strict hint audit). Same names, same
    assertions, failures reported per name."""
    failures = []
    for name in sorted(_registry()):
        try:
            assert_bounded_broadcasts(
                registry_frames(name),
                bounded_keys=_BOUNDED_KEYS.get(name, ()),
                dim_tables=_DIM_TABLES.get(name, ()),
            )
        # any exception (a registry function that throws included) is one name's
        # failure: the sweep still reports every other name
        except Exception as e:
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "bound audit failures:\n" + "\n".join(failures)


def _compat():
    import __spark_entry__ as entry

    return {k: v for k, v in entry.BENCH_COMPAT.items() if k not in _registry()}


def test_bench_compat_plan_broadcasts_bounded(spark, registry_frames):
    """The frozen _vN pin shapes run in every bench round — they get the
    same gate as the registry (a data-sized broadcast in a pin shape
    would OOM the bench at scale just the same). Attestations are keyed
    by the base name (a version shares its row's key domains). One
    consolidated pass over the session-shared frames, like the sweeps
    above."""
    failures = []
    for name in sorted(_compat()):
        base = name.rsplit("_v", 1)[0]
        try:
            assert_bounded_broadcasts(
                registry_frames(name),
                bounded_keys=_BOUNDED_KEYS.get(name, _BOUNDED_KEYS.get(base, ())),
                dim_tables=_DIM_TABLES.get(name, _DIM_TABLES.get(base, ())),
            )
        # any exception (a registry function that throws included) is one name's
        # failure: the sweep still reports every other name
        except Exception as e:
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "compat bound audit failures:\n" + "\n".join(failures)
