"""Plan-property regression tests: pushdown, pruning, broadcast, Python
containment — the engine's optimizer invariants (SURVEY.md section 4)."""

import re

import pytest
from pyspark.sql import functions as F

from fiona_spark import fixtures
from fiona_spark.operators import filters, spatial
from fiona_spark.plans import quality

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def images_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "img.parquet")
    spark.createDataFrame(fixtures.gen_images_pdf(0, 500),
                          schema=fixtures.IMAGES_SCHEMA).write.parquet(p)
    return p


@pytest.fixture(scope="module")
def zones(spark):
    return spark.createDataFrame(fixtures.gen_zones_pdf(30),
                                 schema=fixtures.ZONES_SCHEMA)


def test_where_filter_pushdown(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    q = filters.filter_where(orders, "o_totalprice > 300000.0").select("o_orderkey")
    assert quality.has_pushed_filters(q)


def test_bbox_filter_pushdown_and_pruning(spark, images_path):
    img = spark.read.parquet(images_path)
    q = filters.filter_bbox(img, (-20.0, -10.0, 40.0, 30.0)).select("image_id")
    assert quality.has_pushed_filters(q)
    # pruning: only envelope + id should be read, never bytes/caption
    read = set(quality.read_schema_columns(q))
    assert "bytes" not in read and "caption" not in read


def test_pip_join_plan_shape(spark, images_path, zones):
    img = spark.read.parquet(images_path)
    q = spatial.pip_join(img, zones, res=6)
    # fused lane: one mapInArrow pass does the covering probe, the
    # residual and the zone-key take -- no join, no explode, no exchange
    assert quality.python_eval_count(q) == 1
    plan = quality.formatted_plan(q)
    assert "MapInArrow" in plan and "Generate" not in plan
    assert quality.broadcast_join_count(q) == 0
    assert quality.shuffle_count(q) == 0
    read = set(quality.read_schema_columns(q))
    assert "bytes" not in read


def test_point_cell_is_jvm_only(spark, images_path):
    img = spark.read.parquet(images_path)
    q = spatial.with_point_cell(img.select("image_id", "lng", "lat"), 9)
    assert quality.python_eval_count(q) == 0
    assert quality.codegen_stage_count(q) >= 1


def test_knn_past_guard_plan_is_one_cogroup(spark, images_path, zones,
                                            monkeypatch):
    img = spark.read.parquet(images_path)
    staged = []
    checkpoint = type(img).localCheckpoint
    monkeypatch.setattr(type(img), "localCheckpoint", lambda df, *a, **kw:
                        staged.append(df) or checkpoint(df, *a, **kw))
    q = spatial.knn_join(img, zones, k=3, res=4, max_broadcast_zones=5)
    # past the guard the whole cascade is one cogrouped applyInArrow
    # pass, materialized once: no per-level window, cache or anti-join
    (cascade,) = staged
    cascade = cascade.select("*")   # a fresh, unexecuted plan
    ops = _plan_ops(cascade)
    assert ops.count("FlatMapCoGroupsInArrow") == 1
    assert quality.python_eval_count(cascade) == 1
    assert "Window" not in ops and "InMemoryTableScan" not in ops
    # the result reads the materialized rows; its one window ranks the
    # stragglers, against a zone side that is never broadcast
    ops = _plan_ops(q)
    assert quality.python_eval_count(q) == 0
    assert ops.count("Window") == 1 and "CartesianProduct" in ops
    assert "InMemoryTableScan" not in ops
    assert quality.broadcast_join_count(q) == 0


def _plan_ops(df):
    """Operator names of the numbered detail section of the plan."""
    return re.findall(r"^\(\d+\) (\w+)", quality.formatted_plan(df),
                      re.MULTILINE)


def test_knn_fused_plan_is_one_arrow_pass(spark, images_path, zones):
    img = spark.read.parquet(images_path)
    q = spatial.knn_join(img, zones, k=3, res=4)
    # fused kNN: exactly one mapInArrow pass (the whole cascade and the
    # zone-key take), no window exchange, no posexplode, no join
    assert quality.python_eval_count(q) == 1
    plan = quality.formatted_plan(q)
    assert "MapInArrow" in plan and "Generate" not in plan
    assert quality.broadcast_join_count(q) == 0
    assert quality.shuffle_count(q) == 0


def test_python_eval_count_sees_arrow_maps_and_cogroups(spark, zones):
    """mapInArrow and cogrouped applyInArrow are Python operators too:
    the payload operators and the shuffled PIP lane count."""
    img = spark.createDataFrame(
        [("a", b"", "raw", 1, 1, 0.0, 0.0, 1.0, 1.0, 0.5, 0.5)],
        "image_id string, bytes binary, fmt string, w int, h int, "
        "xmin double, ymin double, xmax double, ymax double, "
        "lng double, lat double")
    assert quality.python_eval_count(spatial.block_tiles(img, 9)) == 1
    cog = spatial.pip_join(img, zones, res=6, max_broadcast_zones=0)
    assert "FlatMapCoGroupsInArrow" in quality.formatted_plan(cog)
    assert quality.python_eval_count(cog) == 1


def test_tpch_q1_single_shuffle(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
         .groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum("l_quantity").alias("sum_qty")))
    # partial aggregation: exactly one exchange for the final agg
    assert quality.shuffle_count(q) == 1
    assert quality.has_pushed_filters(q)


def test_assert_quality_raises_with_plan(spark, images_path):
    img = spark.read.parquet(images_path)
    q = img.select("image_id", "bytes")
    with pytest.raises(AssertionError) as ei:
        quality.assert_quality(q, read_only={"image_id"})
    assert "bytes" in str(ei.value)


def test_slice_has_no_single_partition_exchange(spark):
    """slice_rows must never funnel the table through one task (r1
    scale killer): bucketed row numbering, no Exchange SinglePartition."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_orderkey")
    q = filters.slice_rows(orders, 100, 1000, 7, "o_orderkey")
    assert "Exchange SinglePartition" not in quality.formatted_plan(q)


def test_geojson_read_path_is_python_free(spark, tmp_path):
    """fio-load source: from_json JVM path, zero Batch/ArrowEvalPython."""
    import pandas as pd

    from fiona_spark.sources import geojson
    src = spark.createDataFrame(pd.DataFrame({
        "id": ["a"], "xs": [[0.0, 4.0, 2.0]], "ys": [[0.0, 0.0, 3.0]],
        "xmin": [0.0], "ymin": [0.0], "xmax": [4.0], "ymax": [3.0],
        "NAME": ["x"]}))
    p = str(tmp_path / "feats")
    geojson.write_feature_seq(src, p)
    back = geojson.read_feature_seq(spark, p)
    assert quality.python_eval_count(back) == 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed tables join WITHOUT any shuffle exchange —
    the persisted form of repartition() co-location (100 TB join shape)."""
    import pandas as pd

    from fiona_spark.sources import bucketed
    a = spark.createDataFrame(pd.DataFrame(
        {"cell": [i % 50 for i in range(2000)], "v": range(2000)}))
    b = spark.createDataFrame(pd.DataFrame(
        {"cell": [i % 50 for i in range(500)], "w": range(500)}))
    bucketed.write_bucketed(a, "bt_a", "cell", 8, sort_col="cell")
    bucketed.write_bucketed(b, "bt_b", "cell", 8, sort_col="cell")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = bucketed.colocated_join(spark, "bt_a", "bt_b", "cell")
        assert quality.shuffle_count(q) == 0, quality.formatted_plan(q)
        assert q.count() == 2000 * 10
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_repetition_stats_plan_all_jvm(spark):
    """Repetition quality filters must stay whole-stage-codegen: no
    Python in the plan, text column pruned out of the final exchange."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from fiona_spark.operators import text as tx
    q = tx.repetition_stats(docs.select("doc_id", "text"))
    assert quality.python_eval_count(q) == 0


def test_datetime_tz_plan_all_jvm(spark):
    """The tz matrix parse is regexp + integer arithmetic — zero
    Python."""
    from fiona_spark.functions import datetime as fdt
    df = spark.createDataFrame([("2012-01-29T10:11:12+01:30",)], "s string")
    q = df.select(fdt.parse_datetime_parts("s").alias("p"),
                  fdt.format_gmt(fdt.parse_datetime_parts("s")).alias("g"))
    assert quality.python_eval_count(q) == 0


def test_dissolve_comp_edge_join_not_crossjoin(spark, zones):
    """The dissolve component edge list must come from the covering-cell
    equi-join (no cartesian product in the plan)."""
    from fiona_spark.operators import spatial as sp
    env = (zones.select("zone_id", "xs", "ys")
           .withColumn("xmin", F.array_min("xs"))
           .withColumn("ymin", F.array_min("ys"))
           .withColumn("xmax", F.array_max("xs"))
           .withColumn("ymax", F.array_max("ys")))
    a = env.select(F.col("zone_id").alias("ida"),
                   "xmin", "ymin", "xmax", "ymax")
    b = env.select(F.col("zone_id").alias("idb"),
                   "xmin", "ymin", "xmax", "ymax")
    pairs = sp.range_join(a, b, a_cols=("ida",), b_cols=("idb",),
                          broadcast_b=False)
    plan = quality.formatted_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dissolve_components_single_guard_action(spark, monkeypatch):
    """The driver fast-lane guard is ONE action (limit+collect), not
    the r3 count-then-collect that ran the candidate range join twice."""
    from fiona_spark.operators import aggregates

    rows = [(i, [i * 1.0, i + 2.0, i + 2.0, i * 1.0],
             [0.0, 0.0, 2.0, 2.0]) for i in range(6)]
    df = spark.createDataFrame(
        rows, "fid long, xs array<double>, ys array<double>")
    DataFrame = type(df)      # the concrete (classic/connect) class
    calls = {"collect": 0, "count": 0}
    orig_collect, orig_count = DataFrame.collect, DataFrame.count
    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: (calls.__setitem__("collect", calls["collect"] + 1),
                      orig_collect(self))[1])
    monkeypatch.setattr(
        DataFrame, "count",
        lambda self: (calls.__setitem__("count", calls["count"] + 1),
                      orig_count(self))[1])
    out = aggregates.dissolve_components(df, "fid")   # lazy result
    assert calls == {"collect": 1, "count": 0}, calls
    monkeypatch.undo()
    assert out.count() > 0


def test_connected_components_plan_no_cartesian_no_python(spark):
    """The distributed closure is joins/aggregations only: no cartesian
    product, no Python operators, and every join is an equi-join."""
    from fiona_spark.operators import dedup
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long")
    out = dedup.connected_components_df(pairs, max_rounds=3)
    plan = quality.formatted_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert quality.python_eval_count(out) == 0


def test_apply_dedup_broadcasts_losers(spark):
    """Keeper application broadcasts the (near-dup-bounded) loser set,
    never shuffling the corpus side."""
    from fiona_spark.operators import dedup
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(100)], "doc_id long, text string")
    groups = spark.createDataFrame(
        [(1, 0), (0, 0)], "id long, group long")
    out = dedup.apply_dedup(docs, groups)
    plan = quality.formatted_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ignore_fields_prunes_scan(spark):
    """r6: keys_projection's contract slot was retired for
    openfilegdb_source — this keeps the column-pruning + keys()-shape
    differential covered: include= projection prunes the parquet
    ReadSchema to exactly the surviving column, and the row set
    matches a plain filter+project twin."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    q = filters.ignore_fields(
        filters.filter_where(orders, "o_totalprice > 300000.0"),
        include=["o_orderkey"])
    read = set(quality.read_schema_columns(q))
    assert "o_orderkey" in read
    assert "o_comment" not in read and "o_clerk" not in read
    want = sorted(r[0] for r in orders
                  .filter(F.col("o_totalprice") > 300000.0)
                  .select("o_orderkey").collect())
    assert sorted(r[0] for r in q.collect()) == want
    # ignore= drops named columns, keeps the rest in order
    dropped = filters.ignore_fields(orders, ignore=["o_comment"])
    assert dropped.columns == [c for c in orders.columns
                               if c != "o_comment"]
