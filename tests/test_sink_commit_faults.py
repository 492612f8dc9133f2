"""Fault injection on the streaming sinks' one exactly-once commit
protocol (``_commit_batch`` in ``streaming/events.py``).

Every multi-table sink lands a batch as ordered per-table commits with
a marker table committing last. The parametrised test drives each sink
through two faults:

- a crash on the marker commit after the other tables landed: the
  replay must land ONLY the marker, and every table must end equal to
  an uninterrupted run of the same batches;
- an OPTIMIZE interloper landing on every attempt: the sink must give
  up after exactly three attempts with a ``RuntimeError`` naming
  itself.

A structural guard keeps the protocol in one place: no conditional
``conflict_on=`` commit may appear in ``events.py`` outside the
helper. A second keeps the work dir, the replay staging and the
Z-order maintenance cycle to one call site each.
"""

from __future__ import annotations

import ast
import inspect

import pytest

from retail_sales_etl_spark.streaming import events as streaming_events


class _Crash(Exception):
    """A writer dying mid-batch (not a commit conflict)."""


def _thirds(df, c):
    """Split ``df`` into three ascending ranges of the integer column
    expression ``c`` (batches 0-2)."""
    from pyspark.sql import functions as F

    lo, hi = df.agg(F.min(c), F.max(c)).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    return [
        df.filter(c <= cut1),
        df.filter((c > cut1) & (c <= cut2)),
        df.filter(c > cut2),
    ]


def _docs(cols):
    def load(spark, sf_dir):
        from pyspark.sql import functions as F

        from retail_sales_etl_spark.catalog import load_table

        return _thirds(
            load_table(spark, sf_dir, "documents").select(*cols),
            F.col("doc_id"),
        )

    return load


def _events(spark, sf_dir):
    from pyspark.sql import functions as F

    from retail_sales_etl_spark.catalog import load_table

    return _thirds(
        load_table(spark, sf_dir, "events").select("user_id", "ts"),
        F.unix_micros(F.col("ts").cast("timestamp")),
    )


def _orders(spark, sf_dir):
    from pyspark.sql import functions as F

    from retail_sales_etl_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("o_orderdate"),
        "o_totalprice",
    )
    return _thirds(orders, F.unix_date("o_orderdate"))


def _lineitem(spark, sf_dir):
    from pyspark.sql import functions as F

    from retail_sales_etl_spark.catalog import load_table

    return _thirds(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        F.col("l_orderkey"),
    )


# sink, batch builder, its table arguments in call order, marker table
MULTI_TABLE_SINKS = {
    "lsh_dedup_sink": (_docs(["doc_id", "text"]), ["sigs", "verdicts"], "sigs"),
    "phash_dedup_sink": (_docs(["doc_id"]), ["index", "verdicts"], "index"),
    "rake_source_sink": (
        _docs(["doc_id", "text", "source"]), ["words", "phrases"], "phrases",
    ),
    "pmi_grids_sink": (_docs(["doc_id", "text"]), ["pairs", "uni"], "uni"),
    "copurchase_sink": (_lineitem, ["pairs", "items"], "items"),
    "session_tails_sink": (_events, ["tails", "grid"], "tails"),
    "containment_sink": (_docs(["doc_id", "text"]), ["egrams", "pairs"], "egrams"),
    "decon_sink": (_docs(["doc_id", "text"]), ["grams", "verdicts"], "grams"),
    "novelty_sink": (_docs(["doc_id", "text"]), ["firsts", "docs"], "docs"),
    "cohort_ltv_sink": (_orders, ["firsts", "state", "matrix"], "matrix"),
}


def _rows(spark, path):
    from retail_sales_etl_spark.load.lakehouse import LakehouseTable

    return sorted(
        (tuple(r) for r in LakehouseTable(spark, path).read().collect()),
        key=repr,
    )


@pytest.mark.parametrize("name", sorted(MULTI_TABLE_SINKS))
def test_sink_marker_crash_replays_marker_only_and_interloper_exhausts(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    from retail_sales_etl_spark.load.lakehouse import LakehouseTable

    build, tables, marker = MULTI_TABLE_SINKS[name]
    sink = getattr(streaming_events, name)
    b0, b1, b2 = build(spark, sf_dir)
    crashed = {str(tmp_path / "crashed" / t): t for t in tables}
    clean = {str(tmp_path / "clean" / t): t for t in tables}
    crashed_paths, clean_paths = list(crashed), list(clean)

    assert sink(b0, 0, *crashed_paths) is True
    assert sink(b0, 0, *clean_paths) is True

    # (a) the marker commit of batch 1 dies after the others landed
    orig_write, orig_merge = LakehouseTable.write, LakehouseTable.merge
    fault = {"armed": True, "interlopers": 0}

    def faulty(orig):
        def commit(self, *args, **kwargs):
            bid = (kwargs.get("extra") or {}).get("batch_id")
            if (
                fault["armed"]
                and bid == 1
                and crashed.get(self.path) == marker
            ):
                fault["armed"] = False
                raise _Crash(self.path)
            if bid == 2 and self.path in crashed:
                # lands after the sink's pin: a non-append commit that
                # every pinned commit must abort on
                fault["interlopers"] += 1
                self.optimize()
            return orig(self, *args, **kwargs)

        return commit

    monkeypatch.setattr(LakehouseTable, "write", faulty(orig_write))
    monkeypatch.setattr(LakehouseTable, "merge", faulty(orig_merge))
    with pytest.raises(_Crash):
        sink(b1, 1, *crashed_paths)
    others = {p: LakehouseTable(spark, p) for p in crashed if crashed[p] != marker}
    for t in others.values():
        assert t.latest_entry()["batch_id"] == 1  # landed before the crash
    versions = {p: t.latest_version() for p, t in others.items()}
    marker_t = LakehouseTable(spark, next(p for p in crashed if crashed[p] == marker))
    marker_v = marker_t.latest_version()

    assert sink(b1, 1, *crashed_paths) is True  # the replay
    assert {p: t.latest_version() for p, t in others.items()} == versions
    assert marker_t.latest_version() == marker_v + 1
    assert sink(b1, 1, *crashed_paths) is False  # now a full replay

    assert sink(b1, 1, *clean_paths) is True
    for cp, kp in zip(crashed_paths, clean_paths):
        assert _rows(spark, cp) == _rows(spark, kp), crashed[cp]

    # (b) an OPTIMIZE lands after the pin on every attempt
    with pytest.raises(RuntimeError, match=f"{name}: could not commit batch 2 after 3"):
        sink(b2, 2, *crashed_paths)
    assert fault["interlopers"] == 3


def test_conditional_commits_only_in_commit_helper():
    """The exactly-once protocol lives in ``_commit_batch`` alone: a
    ``.write``/``.merge`` call carrying ``conflict_on=`` anywhere else
    in ``events.py`` is a hand-rolled commit loop. The one exception is
    the ivf_pq codebook claim (``ivf_pq_index_sink``): a train-once
    first writer wins, then every batch READS that codebook — a claim,
    not a per-batch commit."""
    allowed = {"_commit_batch", "ivf_pq_index_sink"}
    tree = ast.parse(inspect.getsource(streaming_events))
    found = []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("write", "merge")
                and any(k.arg == "conflict_on" for k in node.keywords)
            ):
                found.append((fn.name, node.lineno))
    assert {f for f, _ in found} <= allowed, found
    assert [f for f, _ in found if f == "ivf_pq_index_sink"], (
        "the codebook claim moved; update this guard"
    )


def test_one_work_dir_replay_and_maintenance_site():
    """Each streaming mechanism has one home in ``events.py``: work dirs
    come from ``_work_dir`` (the one ``tempfile.mkdtemp``), replays
    stage through ``_replay`` (the one ``_stage_ordered_batches``
    call), and Z-order compaction runs in ``_run_foreach_batch``'s
    maintenance cycle (the one ``.optimize`` call)."""
    sites = {"mkdtemp": [], "_stage_ordered_batches": [], "optimize": []}
    for top in ast.parse(inspect.getsource(streaming_events)).body:
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in sites:
                sites[name].append(getattr(top, "name", "<module>"))
    assert sites == {
        "mkdtemp": ["_work_dir"],
        "_stage_ordered_batches": ["_replay"],
        "optimize": ["_run_foreach_batch"],
    }, sites
