"""Static reachability of the engine package (tools/reachability.py).

Every top-level definition under ``bgg_data_warehouse_spark/`` must be
reached from the code the warehouse and its harnesses run (graded
registry, pipeline, DAG, readers, HTTP service, perfbench, bench and
tools), or be listed in ``KEEP`` with the reason it stays. Every
defaulted parameter of a reached function must be passed by some call in
reached engine code or a root (``KEEP_PARAMS`` otherwise), and every
module constant read there (``KEEP_CONSTANTS`` otherwise); a call or
read in a test or in an unreached definition does not count. And no root may use an engine name that is gone:
perfbench imports engine names and wraps engine attributes by string, so
a removed name fails every benchmark run, not only an import.
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


# Defaulted parameters no engine or root call passes, that stay.
KEEP_PARAMS = {
    "multimodal.make_png(alpha_bytes)": (
        "test reference: tests/test_multimodal.py builds RGBA PNGs to check decode_image"
    ),
    "multimodal.make_png(filter_mode)": (
        "test reference: filter-0 PNGs check decode_image's None-filter rows"
    ),
    "multimodal.make_wav(bits)": "test reference: 16-bit WAVs check decode_audio",
    "multimodal.make_wav(channels)": "test reference: stereo WAVs check decode_audio",
    "multimodal.make_wav(sample_rate)": "test reference: WAV rates check decode_audio",
    "pipeline.refresh_old_games(now)": (
        "S2 refresh clock: tests/test_full_pipeline.py drives the staleness "
        "bands across days, as fetch_stage(now=) does for a run"
    ),
    "service_http.serve(host)": "deployment setting (bind address)",
}

# Module constants no engine or root code reads, that stay. A read inside
# an unreached definition does not count, so the constants only a KEEP'd
# definition reads are listed here with it.
KEEP_CONSTANTS = {
    "sources.sitemap.GAME_ID_PATTERN": "read by KEEP'd sitemap.ids_from_sitemap (S3)",
    "sources.sitemap.SITEMAP_PATTERN": "read by KEEP'd sitemap.sitemap_urls_from_index (S3)",
    "sources.sitemap.SITEMAP_TYPE_ORDER": "read by KEEP'd sitemap.sitemap_urls_from_index (S3)",
    "streaming.ingest.EVENTS_SCHEMA": "read by KEEP'd ingest.read_event_stream (S8/I3)",
    "streaming.ingest._DEDUP_COLS": "read by KEEP'd ingest.make_dedup_handler (S8/I3)",
}


@pytest.fixture(scope="module")
def graph():
    return reachability.Graph(REPO).run()


def test_every_unreached_def_is_kept_for_a_reason(graph):
    unreached = set(graph.unreached())
    assert sorted(unreached - set(KEEP)) == [], "unreached and not in KEEP"
    # a kept entry that is now reached, or deleted, leaves the list
    assert sorted(set(KEEP) - unreached) == [], "stale KEEP entries"


def test_every_unset_param_is_kept_for_a_reason(graph):
    unset = set(graph.unset_params())
    assert sorted(unset - set(KEEP_PARAMS)) == [], "unset and not in KEEP_PARAMS"
    assert sorted(set(KEEP_PARAMS) - unset) == [], "stale KEEP_PARAMS entries"
    # perfbench's keywords count as passes
    assert "streaming.incremental.incremental_dag_cycle(targets)" not in unset


def test_every_unread_constant_is_kept_for_a_reason(graph):
    unread = set(graph.unread_constants())
    assert sorted(unread - set(KEEP_CONSTANTS)) == [], "unread and not in KEEP_CONSTANTS"
    assert sorted(set(KEEP_CONSTANTS) - unread) == [], "stale KEEP_CONSTANTS entries"


def test_every_kept_entry_gives_a_reason():
    for table in (KEEP, KEEP_PARAMS, KEEP_CONSTANTS):
        assert all(isinstance(r, str) and r.strip() for r in table.values())


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


def _restore_pin_hook(root: Path) -> None:
    """Give ``connected_components`` back a ``pin=None`` hook (a no-op
    where it still has one)."""
    path = root / reachability.PACKAGE / "operators" / "components.py"
    head, sep, rest = path.read_text().partition("def connected_components(")
    sig, close, body = rest.partition(") -> DataFrame:")
    if "pin=None" not in sig:
        sig += "    pin=None,\n"
    path.write_text(head + sep + sig + close + body)


def test_a_restored_hook_nothing_sets_is_reported(tmp_path):
    root = _copy_checkout(tmp_path)
    _restore_pin_hook(root)
    unset = reachability.Graph(root).run().unset_params()
    assert "operators.components.connected_components(pin)" in unset


def test_a_new_constant_nothing_reads_is_reported(tmp_path):
    root = _copy_checkout(tmp_path)
    with open(root / reachability.PACKAGE / "io.py", "a") as fh:
        fh.write("\n\nMAX_SNAPSHOT_ROWS = 1000\n")
    assert "io.MAX_SNAPSHOT_ROWS" in reachability.Graph(root).run().unread_constants()


def test_a_keyword_splat_counts_as_passing(tmp_path):
    root = _copy_checkout(tmp_path)
    _restore_pin_hook(root)
    with open(root / "tools" / "cc_probe.py", "w") as fh:
        fh.write(
            "from bgg_data_warehouse_spark.operators.components import connected_components\n"
            "\n\ndef run(edges, **kw):\n"
            "    return connected_components(edges, 'a', 'b', **kw)\n"
        )
    unset = reachability.Graph(root).run().unset_params()
    assert "operators.components.connected_components(pin)" not in unset


def test_a_forward_from_an_unreached_def_does_not_count(tmp_path):
    # cosine_similarity is KEEP'd but unreached: a knob only it passes to
    # the reached l2_norm is set by nothing that runs
    root = _copy_checkout(tmp_path)
    path = root / reachability.PACKAGE / "functions" / "vector.py"
    _edit(path, "def l2_norm(a: Column)", "def l2_norm(a: Column, dim: int | None = None)")
    _edit(path, "(l2_norm(a) * l2_norm(b))", "(l2_norm(a, dim=64) * l2_norm(b, dim=64))")
    g = reachability.Graph(root).run()
    assert "functions.vector.cosine_similarity" in g.unreached()
    assert "functions.vector.l2_norm(dim)" in g.unset_params()


def test_a_read_from_an_unreached_def_does_not_count(tmp_path):
    root = _copy_checkout(tmp_path)
    with open(root / reachability.PACKAGE / "io.py", "a") as fh:
        fh.write("\n\nMAX_SNAPSHOT_ROWS = 1000\n\n\ndef _cap(n):\n    return min(n, MAX_SNAPSHOT_ROWS)\n")
    assert "io.MAX_SNAPSHOT_ROWS" in reachability.Graph(root).run().unread_constants()


def test_a_test_file_call_does_not_count(tmp_path):
    root = _copy_checkout(tmp_path)
    _restore_pin_hook(root)
    (root / "tests").mkdir()
    with open(root / "tests" / "test_cc_pin.py", "w") as fh:
        fh.write(
            "from bgg_data_warehouse_spark.operators.components import connected_components\n"
            "\n\ndef test_pin(edges):\n"
            "    connected_components(edges, 'a', 'b', pin=lambda df: df.cache())\n"
        )
    unset = reachability.Graph(root).run().unset_params()
    assert "operators.components.connected_components(pin)" in unset
