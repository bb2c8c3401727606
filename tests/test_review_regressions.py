"""Regression locks for the review-found defects: negative-dt inflation,
sampler stall, and decay-mode plumbing through every read verb.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pytest

from forgettable_spark.api import ForgetTable
from forgettable_spark.functions.sampling import poisson_inverse_cdf

T0 = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)


def test_future_events_never_gain_mass(spark):
    """count − floor(rate·dt) with dt < 0 used to ADD mass; dt clamps at 0."""
    ft = (
        ForgetTable.empty(spark, rate=0.5)
        .incr("c", ["future"], n=10, ts=T0 + timedelta(days=1))
    )
    rows = {r["bin"]: r["count"] for r in ft.dist("c", now=T0).collect()}
    assert rows == {"future": 10}


def test_sampler_far_tail_uniform_terminates():
    """u beyond the float-CDF plateau used to loop forever."""
    u = np.array([(2**53 - 1) / 2**53] * 3)
    k = poisson_inverse_cdf(np.array([10.0, 18.4, 1e-3]), u)
    assert (k >= 0).all() and (k < np.iinfo(np.int64).max).all()


def test_sampler_still_correct_quantiles_after_guard():
    assert poisson_inverse_cdf(np.array([5.0]), np.array([0.5]))[0] == 5
    assert poisson_inverse_cdf(np.array([19.0]), np.array([0.5]))[0] == np.iinfo(np.int64).max


def test_poisson_mode_consistent_across_read_verbs(spark):
    """A poisson-mode table must answer dist/get/n_most_probable with the
    same stochastic counts at the same instant (get and n_most_probable
    used to silently fall back to expected mode)."""
    ft = ForgetTable.empty(spark, rate=0.5, decay_mode="poisson", seed=7).incr(
        "d", ["x"], n=100, ts=T0
    )
    now = T0 + timedelta(seconds=10)
    d = {r["bin"]: r["count"] for r in ft.dist("d", now=now).collect()}
    g = {r["bin"]: r["count"] for r in ft.get("d", ["x"], now=now).collect()}
    t = {r["bin"]: r["count"] for r in ft.n_most_probable("d", n=1, now=now).collect()}
    assert d == g == t
    # and it genuinely sampled (expected mode would give exactly 95)
    exp = ForgetTable.empty(spark, rate=0.5).incr("d", ["x"], n=100, ts=T0)
    e = {r["bin"]: r["count"] for r in exp.dist("d", now=now).collect()}
    assert e == {"x": 95}


def test_naive_datetime_is_utc(spark):
    """A naive `now` must mean UTC regardless of host timezone."""
    ft = ForgetTable.empty(spark, rate=0.5).incr("c", ["r"], n=10, ts=T0)
    aware = {r["bin"]: r["count"] for r in ft.dist("c", now=T0 + timedelta(seconds=10)).collect()}
    naive = {
        r["bin"]: r["count"]
        for r in ft.dist("c", now=(T0 + timedelta(seconds=10)).replace(tzinfo=None)).collect()
    }
    assert aware == naive == {"r": 5}




def test_fuzzy_decontaminate_accepts_custom_id_col(spark):
    """ADVICE r6: banded() hard-aliases ids to doc_id/eval_doc_id, so the
    verify join must use those fixed names — joining on the caller's
    id_col raised AnalysisException for any id_col != 'doc_id'."""
    from forgettable_spark.extensions.contamination import (
        fuzzy_decontaminate_from_sketches,
    )
    from forgettable_spark.extensions.dedup import _minhash_sketches

    text = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame([(101, text), (102, "totally different words here")],
                                   ["rid", "body"])
    evals = spark.createDataFrame([(900, text)], ["rid", "body"])
    c_sigs = _minhash_sketches(corpus, "body", "rid", k=12)
    e_sigs = _minhash_sketches(evals, "body", "rid", k=12)
    rows = fuzzy_decontaminate_from_sketches(c_sigs, e_sigs, id_col="rid").collect()
    assert [(r["doc_id"], r["eval_doc_id"]) for r in rows] == [(101, 900)]
    assert rows[0]["jaccard"] == 1.0


def test_spread_gate_reads_byte_conf_as_spark_does(spark):
    """The small-scan spread reads spark.sql.files.maxPartitionBytes
    through Spark's own byte parser: a bare "b" suffix on a plain byte
    count ("268435456b") used to raise ValueError in a hand-rolled
    parser and silently turn the spread off."""
    from forgettable_spark.entrypoints_ext import (
        _EMB_ROWS_PER_SPREAD_PARTITION,
        _spread_parts,
    )
    from tests.conftest import SF_SMOKE

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    counts = []
    try:
        for value in ("268435456b", "256m"):
            spark.conf.set(key, value)
            counts.append(
                _spread_parts(
                    spark, SF_SMOKE, "embeddings", _EMB_ROWS_PER_SPREAD_PARTITION, {}
                )
            )
    finally:
        spark.conf.set(key, old)
    assert counts[0] == counts[1] > 0


def test_kmeans_oracle_degrades_to_omission_without_corpus():
    """ADVICE r6: an oracle_sql() fetch against an environment lacking
    the corpus must omit ann_kmeans_topk (rows-only check) instead of
    raising out of oracle_sql() and breaking EVERY oracle. Since the r8
    sf_dir threading the missing corpus is simulated by passing it
    explicitly rather than poking the (removed) _LAST_KMEANS_SF global."""
    from forgettable_spark import entrypoints_ext as ext

    oracles = ext.oracle_sql("/nonexistent/sf999")
    assert "ann_kmeans_topk" not in oracles
    assert "dedup_exact" in oracles  # the rest of the dict survives


def test_table_parts_skip_batch_dir_without_success(tmp_path):
    """ADVICE r6: an external reader (read_spine/read_sketches) racing an
    in-flight batch write must not read a torn batch-<id> directory —
    batch dirs are gated on _SUCCESS exactly like folds."""
    from forgettable_spark.streaming.admit import _table_parts

    root = tmp_path / "tbl"
    for name, done in (("batch-0", True), ("batch-1", False), ("batch-2", True)):
        d = root / name
        d.mkdir(parents=True)
        (d / "part-00000.parquet").write_bytes(b"torn")
        if done:
            (d / "_SUCCESS").write_text("")
    parts = _table_parts(str(root), exclude_batch=-1)
    assert [p.rsplit("/", 1)[1] for p in parts] == ["batch-0", "batch-2"]


def _pickled_frame_calls(source: str) -> list[int]:
    """Lines of ``createDataFrame(x, …)`` calls whose ``x`` is a list,
    tuple or comprehension, written inline or bound to a name in the same
    function."""
    import ast

    rows_like = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp)
    tree = ast.parse(source)
    scopes = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
    found = set()
    for scope in [tree, *scopes]:
        bound = {
            t.id
            for n in ast.walk(scope)
            if isinstance(n, ast.Assign) and isinstance(n.value, rows_like)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(scope):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "createDataFrame"
                and n.args
                and (
                    isinstance(n.args[0], rows_like)
                    or isinstance(n.args[0], ast.Name) and n.args[0].id in bound
                )
            ):
                found.add(n.lineno)
    return sorted(found)


def test_no_pickled_driver_frames():
    """Frames built on the driver go through ``functions.cache.
    local_frame`` (a JVM local relation). ``createDataFrame`` over Python
    rows parallelizes pickled rows into a ``PythonRDD``, so every action
    over the frame, or over a plan that joins or unions it, runs a
    Python-worker stage. The one pickled call left is
    ``_local_result_df``'s logged fallback for types Arrow cannot
    convert."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "forgettable_spark"
    hits = {
        str(p.relative_to(root)): lines
        for p in sorted(root.rglob("*.py"))
        if (lines := _pickled_frame_calls(p.read_text()))
    }
    fallback = "functions/cache.py"
    assert len(hits.pop(fallback, [])) <= 1, fallback
    assert not hits, hits
    # The scan sees both spellings of a pickled frame.
    assert _pickled_frame_calls("spark.createDataFrame([(1,)], 'a INT')") == [1]
    assert _pickled_frame_calls(
        "def f(spark):\n    rows = [(1,)]\n    return spark.createDataFrame(rows, 'a INT')"
    ) == [3]


def _column_fold_twins(source: str) -> list[int]:
    """Line numbers in ``source`` that build a vector fold as a Column
    tree: a call of ``F.transform``, ``F.aggregate`` or ``F.zip_with``,
    or a parameter annotated ``Column | str`` (either order)."""
    import ast

    tree = ast.parse(source)
    found = set()
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "F"
            and n.func.attr in ("transform", "aggregate", "zip_with")
        ):
            found.add(n.lineno)
        if isinstance(n, ast.arg) and n.annotation is not None:
            ann = n.annotation
            if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
                ann = ast.parse(ann.value, mode="eval").body
            if (
                isinstance(ann, ast.BinOp)
                and isinstance(ann.op, ast.BitOr)
                and {getattr(ann.left, "id", None), getattr(ann.right, "id", None)}
                == {"Column", "str"}
            ):
                found.add(n.lineno)
    return sorted(found)


def test_vector_folds_have_one_sql_definition():
    """Each vector fold (as_double, dot, norm, int_dot, the signature and
    centroid cells, the probe cells) is defined once, as SQL text parsed
    by ``F.expr``. A Column-loop twin beside it costs a py4j round trip
    per lambda node to build and can drift from the text the tests
    check."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "forgettable_spark"
    hits = {
        name: lines
        for name in ("extensions/similarity.py", "extensions/codebook.py")
        if (lines := _column_fold_twins((root / name).read_text()))
    }
    assert not hits, hits
    # The scan sees each spelling of a twin.
    assert _column_fold_twins("F.transform(v, lambda x: x)") == [1]
    assert _column_fold_twins(
        "def f(a):\n    return F.aggregate(F.zip_with(a, a, g), z, h)"
    ) == [2]
    assert _column_fold_twins("def f(v: Column | str): pass") == [1]
    assert _column_fold_twins("def f(v: 'str | Column'): pass") == [1]
    assert _column_fold_twins("def f(v: str): return F.expr(v)") == []
