"""Static reachability of the engine package (tools/reachability.py).

Every top-level definition under ``bgg_data_warehouse_spark/`` must be
reached from the code the warehouse and its harnesses run (graded
registry, pipeline, DAG, readers, HTTP service, perfbench, bench and
tools), or be listed in ``KEEP`` with the reason it stays. And no root
may use an engine name that is gone: perfbench imports engine names and
wraps engine attributes by string, so a removed name fails every
benchmark run, not only an import.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from tools import reachability

REPO = Path(__file__).resolve().parents[1]

# Unreached definitions that stay. A SURVEY §2 row (or §1.3 for schema
# validation) means the definition reproduces the reference even though
# only tests call it. A "test reference" is the independent form a
# remaining test checks a reached definition against.
KEEP = {
    "functions.vector.cosine_similarity": "test reference for readers.GameReader live /similar",
    "functions.vector.euclidean_distance": "test reference for readers.GameReader live /similar",
    "io.archive_old_rows": "S10 archive sink",
    "operators.label_prop.label_propagation": (
        "test reference for label_prop.lpa_oracle_sql and label_propagation_from_baskets"
    ),
    "schemas.conform": "A10 / §1.3 pre-write conformance",
    "schemas.validate_no_all_null_columns": "A10 / §1.3 all-null guard",
    "sources.sitemap.ids_from_sitemap": "S3 sitemap scrape source",
    "sources.sitemap.sitemap_urls_from_index": "S3 sitemap scrape source",
    "streaming.ingest.dedup_stream_stateful": "S8/I3 streaming ingest",
    "streaming.ingest.interval_join": "S8/I3 streaming ingest",
    "streaming.ingest.make_dedup_handler": "S8/I3 streaming ingest",
    "streaming.ingest.read_event_stream": "S8/I3 streaming ingest",
    "streaming.ingest.run_foreach_batch": "S8/I3 streaming ingest",
    "streaming.ingest.run_to_memory": "S8/I3 streaming ingest",
    "streaming.ingest.windowed_counts": "S8/I3 streaming ingest",
}


@pytest.fixture(scope="module")
def graph():
    return reachability.Graph(REPO).run()


def test_every_unreached_def_is_kept_for_a_reason(graph):
    unreached = set(graph.unreached())
    assert sorted(unreached - set(KEEP)) == [], "unreached and not in KEEP"
    # a kept entry that is now reached, or deleted, leaves the list
    assert sorted(set(KEEP) - unreached) == [], "stale KEEP entries"


def test_no_root_uses_a_missing_engine_name(graph):
    assert sorted(graph.missing) == []
    # the string-wrapped layers perfbench traces are seen as reached
    assert ("bgg_data_warehouse_spark.io", "delete_insert_table") in graph.reached
    assert ("bgg_data_warehouse_spark.readers", "GameReader") in graph.reached


def _copy_checkout(tmp_path: Path) -> Path:
    root = tmp_path / "checkout"
    ignore = shutil.ignore_patterns("__pycache__")
    for d in (reachability.PACKAGE, "perfbench", "tools"):
        shutil.copytree(REPO / d, root / d, ignore=ignore)
    for f in ("__spark_entry__.py", "bench.py"):
        shutil.copy(REPO / f, root / f)
    return root


def _edit(path: Path, old: str, new: str) -> None:
    src = path.read_text()
    assert old in src
    path.write_text(src.replace(old, new, 1))


def test_check_fails_on_a_removed_wrapped_or_imported_name(tmp_path):
    root = _copy_checkout(tmp_path)
    pkg = root / reachability.PACKAGE
    # perfbench/spans.py wraps io.merge_insert_missing_table by string
    _edit(pkg / "io.py", "def merge_insert_missing_table(", "def _renamed(")
    # ... and GameReader methods named in a loop tuple
    _edit(pkg / "readers.py", "def get_provenance(", "def provenance(")
    # perfbench/warehouse.py imports land_responses
    _edit(pkg / "sources" / "api_client.py", "def land_responses(", "def _land(")
    missing = reachability.Graph(root).run().missing
    assert {
        "perfbench/spans.py: bgg_data_warehouse_spark.io.merge_insert_missing_table",
        "perfbench/spans.py: bgg_data_warehouse_spark.readers.GameReader.get_provenance",
        "perfbench/warehouse.py: bgg_data_warehouse_spark.sources.api_client.land_responses",
    } <= missing


def test_check_fails_on_a_restored_def_without_a_caller(tmp_path):
    root = _copy_checkout(tmp_path)
    with open(root / reachability.PACKAGE / "io.py", "a") as fh:
        fh.write("\n\ndef maintain_neighbors_table(spark, root, name):\n    return None\n")
    assert "io.maintain_neighbors_table" in reachability.Graph(root).run().unreached()


def test_a_package_re_export_is_not_a_use(tmp_path):
    root = _copy_checkout(tmp_path)
    pkg = root / reachability.PACKAGE / "functions"
    with open(pkg / "vector.py", "a") as fh:
        fh.write("\n\ndef manhattan_distance(a, b):\n    return None\n")
    with open(pkg / "__init__.py", "a") as fh:
        fh.write("from .vector import manhattan_distance\n")
    g = reachability.Graph(root).run()
    assert "functions.vector.manhattan_distance" in g.unreached()
    assert g.missing == set()


def test_incremental_module_defs_need_a_caller(tmp_path):
    root = _copy_checkout(tmp_path)
    path = root / reachability.PACKAGE / "streaming" / "incremental.py"
    with open(path, "a") as fh:
        fh.write("\n\ndef merge_by_unique_key(existing, fresh, keys):\n    return None\n")
    assert "streaming.incremental.merge_by_unique_key" in reachability.Graph(root).run().unreached()
