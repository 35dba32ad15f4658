"""The lineage-cut contract of session.cut / session.release."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from spanmarkerner_spark.session import cut

_groups = itertools.count()


def _grouped(spark):
    return (
        spark.range(1000)
        .withColumn("k", F.col("id") % 7)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _jobs(spark, fn) -> int:
    """Spark jobs run by fn(), counted with the status tracker."""
    sc = spark.sparkContext
    group = f"test-session-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


def _persisted(spark) -> set[int]:
    """Ids of the RDDs holding blocks. Compare id sets, not sizes: the
    context cleaner may drop older tests' blocks at any time."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize(
    "make",
    [
        _grouped,
        lambda s: s.range(10).filter("id > 100"),
        lambda s: s.createDataFrame([], "a long"),
        lambda s: s.range(0),
        lambda s: s.range(10).limit(0),
    ],
    ids=["grouped", "filtered_empty", "created_empty", "range0", "limit0"],
)
def test_cut_count_is_exact(spark, make):
    out, n = cut(make(spark))
    assert n == make(spark).count() == out.count()


def test_cut_truncates_lineage(spark):
    out, _ = cut(_grouped(spark))
    assert _analyzed(out).getClass().getSimpleName() == "LogicalRDD"
    assert sum(r["c"] for r in out.collect()) == 1000


def test_cut_costs_no_job_beyond_the_checkpoint(spark):
    """The count rides the materializing job: cut runs exactly the
    jobs of a bare eager localCheckpoint of the same plan."""
    bare = _jobs(spark, lambda: _grouped(spark).localCheckpoint(eager=True))
    counted = _jobs(spark, lambda: cut(_grouped(spark)))
    assert bare >= 1 and counted == bare


def test_cut_count_is_exact_under_concurrent_driver_threads(spark):
    """Each cut observes its own job: 8 driver threads (the PQ
    training pool's shape) each get their own frame's count."""
    from concurrent.futures import ThreadPoolExecutor

    sizes = [97 * (i + 1) for i in range(8)]

    def one(n):
        return cut(spark.range(n).repartition(3))[1]

    with ThreadPoolExecutor(max_workers=len(sizes)) as pool:
        futures = [pool.submit(one, n) for n in sizes]
        assert [f.result(timeout=300) for f in futures] == sizes


def test_cut_is_reliable_under_a_session_checkpoint_dir(
    spark, session_checkpoint_dir
):
    out, n = cut(_grouped(spark))
    assert n == 7
    assert _analyzed(out).rdd().getCheckpointFile().isDefined()


def test_cut_is_local_without_a_checkpoint_dir(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    out, _ = cut(_grouped(spark))
    assert not _analyzed(out).rdd().getCheckpointFile().isDefined()


def test_k_core_storage_is_bounded(spark):
    """A 20-node path peels two nodes per round at k=2 (about 10
    rounds); each superseded round is released, so the call leaves at
    most its result's blocks behind."""
    from spanmarkerner_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "src long, dst long"
    )
    before = _persisted(spark)
    assert k_core(edges, k=2, max_rounds=16).count() == 0
    assert len(_persisted(spark) - before) <= 2


def test_iterative_storage_does_not_grow_with_rounds(spark):
    """hits, bfs_distances, connected_components and materialize_rules
    release every superseded round, and pagerank and label_propagation
    cut only their edge list: the blocks a call leaves behind stay at
    its result's few cuts however many rounds it ran."""
    from spanmarkerner_spark.operators.bgp import materialize_rules
    from spanmarkerner_spark.operators.components import connected_components
    from spanmarkerner_spark.operators.graph import (
        bfs_distances,
        hits,
        label_propagation,
        pagerank,
    )

    def path(n):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "src long, dst long"
        )

    def chain(n):
        return spark.createDataFrame(
            [(f"n{i}", "sub", f"n{i + 1}") for i in range(n)],
            "subj string, pred string, obj string",
        )

    rule = [([("?a", "sub", "?b"), ("?b", "sub", "?c")], [("?a", "sub", "?c")])]
    runs = {
        "hits": lambda big: hits(path(19), iters=6 if big else 1),
        "bfs": lambda big: bfs_distances(
            path(19), spark.createDataFrame([(0,)], "node long"),
            max_dist=6 if big else 1,
        ),
        "cc": lambda big: connected_components(path(19), max_iter=6 if big else 1),
        "pagerank": lambda big: pagerank(path(19), iters=6 if big else 1),
        "label_prop": lambda big: label_propagation(
            path(19), iters=6 if big else 1
        ),
        "rules": lambda big: materialize_rules(chain(16 if big else 2), rule),
    }
    for name, run in runs.items():
        for big in (False, True):
            before = _persisted(spark)
            run(big).collect()
            assert len(_persisted(spark) - before) <= 3, (name, big)


def test_narrow_is_a_noop_at_session_width(spark):
    """narrow coalesces a round's output into max(1, n_rows // 50_000
    + 1) partitions while that is below the session width, and returns
    the very same frame once it reaches it — a large graph keeps the
    session-width plan."""
    from spanmarkerner_spark.session import narrow

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.range(0, 100, 1, width)
    assert narrow(df, (width - 1) * 50_000) is df
    assert narrow(df, 10**12) is df
    for n_rows, w in [(0, 1), (10, 1), (49_999, 1), (50_000, 2),
                      ((width - 1) * 50_000 - 1, width - 1)]:
        out = narrow(df, n_rows)
        assert out is not df
        assert out.rdd.getNumPartitions() == w
    got = narrow(df, 60_000).collect()
    assert sorted(r["id"] for r in got) == list(range(100))


def test_no_session_conf_writes_outside_session_py():
    """Static guard: session conf is set in get_spark only. Operators
    and scripts size shuffles and choose write modes per plan or per
    write, never with conf.set / conf.unset."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    allowed = root / "spanmarkerner_spark" / "session.py"
    pattern = re.compile(r"conf.(set|unset)\(")
    hits = []
    for top in ("spanmarkerner_spark", "scripts"):
        for path in sorted((root / top).rglob("*")):
            if not path.is_file() or path == allowed or "__pycache__" in path.parts:
                continue
            try:
                text = path.read_text()
            except UnicodeDecodeError:
                continue
            hits += [
                f"{path.relative_to(root)}:{i}"
                for i, line in enumerate(text.splitlines(), 1)
                if pattern.search(line)
            ]
    assert hits == []


def test_graph_rounds_are_sized_only_by_narrow():
    """Static guard: the graph and components operators size every
    round through session.narrow and never call a frame's
    .repartition( or .coalesce( themselves (F.coalesce, the column
    function, is not a width)."""
    import ast
    from pathlib import Path

    ops = Path(__file__).resolve().parents[1] / "spanmarkerner_spark" / "operators"
    hits = []
    for name in ("graph.py", "components.py"):
        for node in ast.walk(ast.parse((ops / name).read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("repartition", "coalesce")
                and not (
                    isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                )
            ):
                hits.append(f"{name}:{node.lineno}")
    assert hits == []


def test_operators_hold_no_frame_in_the_cache_manager():
    """Static guard: no operator calls .persist( or .cache(. An
    operator returns a lazy frame, so it can never unpersist what it
    persisted, and the entry stays in the session's CacheManager until
    clearCache(); a frame read more than once goes through
    session.cut, whose blocks the context cleaner frees."""
    import re
    from pathlib import Path

    ops = Path(__file__).resolve().parents[1] / "spanmarkerner_spark" / "operators"
    pattern = re.compile(r"\.(persist|cache)\(")
    hits = [
        f"{path.name}:{i}"
        for path in sorted(ops.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []


def _cache_entries(spark) -> int:
    """Frames in the session's CacheManager (what persist() and
    cache() register and only unpersist() or clearCache() drop)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_operators_leave_no_cached_frame(spark):
    """pq_topk, ivf_pq_residual_topk and triangle_count each read a
    frame more than once; after they run, the CacheManager holds
    exactly the entries it held before."""
    import numpy as np

    from spanmarkerner_spark.operators.graph import triangle_count
    from spanmarkerner_spark.operators.similarity import (
        ivf_pq_residual_topk,
        pq_topk,
    )

    rng = np.random.RandomState(3)
    vecs = spark.createDataFrame(
        [(i, rng.randn(8).tolist()) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    before = _cache_entries(spark)
    pq_topk(vecs, dim=8, m_sub=2, k_codes=3, iters=2, k=3, n_queries=2).collect()
    ivf_pq_residual_topk(
        vecs, dim=8, k_cells=3, m_sub=2, k_codes=3, iters=2, k=3, n_queries=2
    ).collect()
    triangle_count(edges).collect()
    assert _cache_entries(spark) == before


def test_ship_package_removes_its_zip_dir_at_exit(tmp_path):
    """ship_package zips the package into a fresh temp dir for each
    SparkContext; the dir is there while the interpreter runs and gone
    once it exits. A stub context records the shipped path, so no JVM
    starts."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    script = (
        "import os, sys\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "from spanmarkerner_spark.session import ship_package\n"
        "class Context:\n"
        "    def addPyFile(self, path):\n"
        "        assert os.path.isfile(path)\n"
        "        print(path)\n"
        "class Session:\n"
        "    sparkContext = Context()\n"
        "ship_package(Session())\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, check=True,
    )
    shipped = Path(out.stdout.strip())
    assert shipped.parent.parent == tmp_path
    assert shipped.parent.name.startswith("smns_pyfiles_")
    assert list(tmp_path.glob("smns_pyfiles_*")) == []
