"""Guards on the fixed per-request work of the RAG serving path.

- catalog.load infers a table's schema once per session: a repeat
  load launches no Spark job, and a file rewritten in place is
  inferred again.
- rag_dashboard_gold scans and scores the corpus once, and its literal
  tables are JVM LocalRelations, not Python-RDD scans.
- ann_ivf_topk_warm reads the persisted packed routing table: its own
  plan holds no aggregate, only a broadcast of the cached row.
"""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq

from project_orbit_spark.catalog import load

from tests.conftest import SF_DIR

_GROUPS = itertools.count()


def _jobs_launched(spark, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"serving-path-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan_nodes(df):
    """Physical operators of df's own plan, depth first. The cached
    plan behind an InMemoryTableScan is not a child, so it is not
    walked."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.inputPlan()
    out, stack = [], [root]
    while stack:
        node = stack.pop()
        out.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_repeat_load_launches_no_job(spark, tmp_path):
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), str(tmp_path / "region.parquet"))
    first, n_first = _jobs_launched(spark, lambda: load(spark, str(tmp_path), "region"))
    again, n_again = _jobs_launched(spark, lambda: load(spark, str(tmp_path), "region"))
    assert n_first >= 1  # footer inference: the counter sees jobs
    assert n_again == 0
    assert again.schema == first.schema
    # a fresh relation per call: a self-join keeps distinct sides
    assert first.join(again, first.r_regionkey == again.r_regionkey).count() == 2


def test_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"]}), path)
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert df.count() == 3


def test_dashboard_scans_documents_once_without_python_rdds(spark):
    from project_orbit_spark.gold.pipelines import rag_dashboard_gold

    nodes = _plan_nodes(rag_dashboard_gold(spark, SF_DIR))
    names = [n.nodeName() for n in nodes]
    doc_scans = [
        n for n in nodes
        if n.nodeName().startswith("Scan parquet")
        and "documents.parquet" in n.simpleString(25)
    ]
    assert len(doc_scans) == 1, names
    assert not any("ExistingRDD" in n for n in names), names
    assert "LocalTableScan" in names, names


def test_warm_ivf_probe_only_broadcasts_the_cached_routes(spark):
    from project_orbit_spark.similarity.cosine import ann_ivf_topk_warm

    names = [n.nodeName() for n in _plan_nodes(ann_ivf_topk_warm(spark, SF_DIR))]
    assert "InMemoryTableScan" in names, names
    assert not any("Aggregate" in n for n in names), names
