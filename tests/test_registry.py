"""Registry contract: driver-artifact glob naming and proven-query ordering."""

from __future__ import annotations

import json
import os

from retail_sales_etl_spark.plans import registry


def test_proven_glob_matches_driver_zero_padded_naming(tmp_path):
    """The driver writes zero-padded CORRECTNESS_r04.json-style names;
    the registry's glob must match them (and ignore malformed files)."""
    rec = {
        "good_query": {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "err": None,
        },
        "red_query": {
            "rows_match": True,
            "schema_match": True,
            "hash_match": False,
            "err": None,
        },
        "err_query": {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "err": "boom",
        },
    }
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps(rec))
    (tmp_path / "CORRECTNESS_r11.json").write_text(
        json.dumps({"other_query": rec["good_query"]})
    )
    (tmp_path / "CORRECTNESS_r05.json").write_text("{not json")
    proven = registry._proven_names_in(str(tmp_path))
    assert proven == {"good_query", "other_query"}


def test_repo_root_artifacts_are_visible_to_registry():
    """The real repo-root glob sees the driver's actual artifacts (at
    least round 1 exists from round 2 onward)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    have = [
        f for f in os.listdir(root) if f.startswith("CORRECTNESS_r")
    ]
    if have:
        assert registry._proven_names(), (
            "driver artifacts exist at repo root but registry parsed "
            "zero proven queries"
        )


def test_proof_invalidated_when_module_source_changes(tmp_path, monkeypatch):
    """A driver proof is only trusted while the implementing module's
    source hash matches the one recorded with the proof: a rewrite
    drops the query back into the unproven (front-of-queue) set until
    a NEWER verdict round re-proves it."""
    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    (tmp_path / "CORRECTNESS_r06.json").write_text(json.dumps({"q_x": green}))
    monkeypatch.setattr(registry, "_module_hashes", lambda: {"q_x": "h1"})
    assert "q_x" in registry._proven_names_in(str(tmp_path))  # binds h1

    # source rewritten after the proof -> proof invalidated
    monkeypatch.setattr(registry, "_module_hashes", lambda: {"q_x": "h2"})
    assert "q_x" not in registry._proven_names_in(str(tmp_path))

    # a newer verdict round re-proves the rewritten code -> rebinds
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps({"q_x": green}))
    assert "q_x" in registry._proven_names_in(str(tmp_path))
    state = json.loads((tmp_path / "PROOF_HASHES.json").read_text())
    assert state["q_x"] == {"round": 7, "hash": "h2"}


def test_manually_poisoned_proof_ranks_as_must_reprove(tmp_path, monkeypatch):
    """A proof hash manually set to 'invalidated-…' marks a
    correctness-relevant rewrite: the query must rank with the
    never-proven group (guaranteed driver slot), not with ordinary
    edit-invalidated entries that can wait a round."""
    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    (tmp_path / "CORRECTNESS_r06.json").write_text(
        json.dumps({"q_poisoned": green, "q_edited": green})
    )
    (tmp_path / "PROOF_HASHES.json").write_text(
        json.dumps(
            {
                "q_poisoned": {"round": 6, "hash": "invalidated-rewrite"},
                "q_edited": {"round": 6, "hash": "old"},
            }
        )
    )
    monkeypatch.setattr(
        registry,
        "_module_hashes",
        lambda: {"q_poisoned": "h1", "q_edited": "h2"},
    )
    proven, ever_green, forced = registry._proof_sets_in(str(tmp_path))
    assert forced == {"q_poisoned"}
    assert proven == set()
    assert ever_green == {"q_poisoned", "q_edited"}


def test_all_queries_and_oracles_consistent():
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    assert set(oracles) <= set(queries)
    assert len(queries) >= 90


def test_fingerprints_are_function_grain():
    """Round-10 invalidation contract: fingerprints are per-entry
    (``fn-`` prefixed), deterministic across calls, cover every query,
    and two queries in the same module have DIFFERENT fingerprints —
    the property that makes appending operator N+1 a no-op for the
    other proofs in the module (round 9 lost 100/178 proofs to
    module-grain hashing)."""
    h1 = registry._module_hashes()
    h2 = registry._module_hashes()
    assert h1 == h2
    assert set(h1) == set(registry.all_queries())
    assert all(v.startswith("fn-") for v in h1.values())
    # text.py contributes many queries; they must not share one hash
    from retail_sales_etl_spark.operators import text

    text_names = list(text.QUERIES)
    assert len({h1[n] for n in text_names}) == len(text_names)


def test_fingerprint_tracks_oracle_changes():
    """An oracle-SQL edit must invalidate the proof even when the Spark
    plan is untouched."""
    from retail_sales_etl_spark.operators import graph

    name = next(iter(graph.ORACLE))
    fn = graph.QUERIES[name]
    a = registry._entry_fingerprint(fn, graph.ORACLE[name])
    b = registry._entry_fingerprint(fn, graph.ORACLE[name] + " -- edited")
    assert a != b


def test_every_registry_entry_has_a_survey_row():
    """SURVEY.md §2 is the coverage contract the judge audits line by
    line; an operator that exists only in code escapes every future
    audit (the round-10 gap: three registered operators had no §2
    row). Every queries() entry must be named in SURVEY.md."""
    import os

    from retail_sales_etl_spark.plans import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SURVEY.md"), encoding="utf-8") as f:
        survey = f.read()
    missing = [n for n in registry.all_queries() if f"`{n}`" not in survey]
    assert not missing, f"operators missing from SURVEY.md: {missing}"


def test_rows_only_entries_count_as_proven(tmp_path):
    """A by-design oracle-less entry (the approximate sketches) whose
    driver record is err='no_oracle' with a successful run is as
    proven as it can ever get — it must NOT sit rank-0 forever and
    burn a re-proof slot every round. An entry that HAS an oracle but
    recorded no_oracle (stale artifact) stays unproven."""
    import json

    no_oracle_name = next(
        n for n in registry.all_queries() if n not in registry.all_oracles()
    )
    oracle_name = next(iter(registry.all_oracles()))
    rec = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": 5,
        "oracle_rows": None,
        "err": "no_oracle",
    }
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps({no_oracle_name: rec, oracle_name: rec})
    )
    proven, ever_green, _forced = registry._proof_sets_in(str(tmp_path))
    assert no_oracle_name in ever_green and no_oracle_name in proven
    assert oracle_name not in ever_green


def test_script_package_imports_resolve():
    """Every ``from retail_sales_etl_spark… import name`` in
    ``scripts/*.py`` names something the package still has, so a
    rename or removal in the package cannot silently break a script
    (the scripts only fail when run, and no test runs them)."""
    import ast
    import glob
    import importlib

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    missing = []
    for path in sorted(glob.glob(os.path.join(root, "scripts", "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.module
                and node.module.split(".")[0] == "retail_sales_etl_spark"
            ):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    missing.append(
                        f"{os.path.basename(path)}: {node.module}.{alias.name}"
                    )
    assert not missing, missing
