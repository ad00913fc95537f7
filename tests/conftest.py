"""Shared pytest fixtures: one local SparkSession + DuckDB oracle
connection per test session (mirrors the driver's harness).

Also home of the ``slow`` tier (r12 verdict #7): the full suite runs
~550-750 s depending on box state, which is the round-end gate, but a
builder iterating on one operator needs a fast inner loop. The
inventory below centrally marks the expensive tests so

    python -m pytest tests/ -m "not slow" -q

runs the remaining ~140 tests in well under 90 s. The round-end
recipe and the driver still run the FULL suite — the tier exists to
tighten the inner loop, never to weaken the gate."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: whole files where essentially every test is expensive by nature
#: (stateful streaming replays; the bench harness's measured loops)
SLOW_FILES = {
    "test_streaming.py",
    "test_bench_contract.py",
}

#: (file, function) pairs ≳1.5 s in the round-13 --durations=0 sweep
#: (parametrized functions count as their summed parametrizations —
#: test_query_matches_oracle alone is ~250 s: it IS the local
#: differential, which drive_contract covers round-end anyway).
#: tests/test_properties.py::test_slow_inventory_resolves pins every
#: entry to an existing test so renames can't silently unmark.
SLOW_FUNCS = {
    ("test_oracle_diff.py", "test_query_matches_oracle"),
    ("test_oracle_diff.py", "test_rows_only_queries_run"),
    ("test_oracle_diff.py", "test_const_repr_is_insertion_order_independent_property"),
    ("test_semantics.py", "test_sort_spills_gracefully_under_memory_pressure"),
    ("test_semantics.py", "test_native_minhash_agrees_with_spark_ml_lsh"),
    ("test_properties.py", "test_fuzzy_match_groups_match_python_model"),
    ("test_properties.py", "test_minhash_pairs_subset_of_exact"),
    ("test_properties.py", "test_top_token_count_matches_counter"),
    ("test_properties.py", "test_bm25_matches_python_model"),
    ("test_properties.py", "test_word_count_matches_python_model"),
    ("test_properties.py", "test_duplicate_runs_matches_python_model"),
    ("test_properties.py", "test_bpe_pair_counts_matches_python_model"),
    ("test_components.py", "test_components_chain_needs_multiple_rounds"),
    ("test_components.py", "test_pagerank_chunk_cap_invariant"),
    ("test_components.py", "test_components_match_union_find"),
    ("test_components.py", "test_triangle_chunk_cap_invariant"),
    ("test_components.py", "test_graph_work_probes_measure_the_queries_own_graph"),
    ("test_plans.py", "test_apply_near_label_join_broadcasts"),
    ("test_plans.py", "test_keep_best_quality_window_excludes_unclustered"),
    ("test_plans.py", "test_incremental_minhash_avoids_cartesian"),
    ("test_similarity.py", "test_lsh_cosine_pairs_vs_bruteforce"),
    ("test_similarity.py", "test_ann_recall_vs_bruteforce"),
    ("test_similarity.py", "test_ann_variants_rank_consistently"),
    ("test_similarity.py", "test_semantic_dedup_recall_vs_all_pairs"),
    ("test_sinks_jobs.py", "test_cli_flags_after_args_are_app_args"),
    ("test_sinks_jobs.py", "test_compact_preserves_hive_partitioning"),
    ("test_sinks_jobs.py", "test_compact_small_files"),
    ("test_sinks_jobs.py", "test_zorder_layout_prunes_files_on_both_dimensions"),
    ("test_sinks_jobs.py", "test_process_readback_matches_submit"),
    ("test_catalog_encodings.py", "test_events_ts_encoding_drift"),
    ("test_catalog_encodings.py", "test_catalog_smoke_all_tables"),
    ("test_parity_apps.py", "test_wc_golden"),
    ("test_entry_contract.py", "test_entry_returns_flagship_rows"),
    ("test_skew.py", "test_salted_join_matches_plain"),
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: expensive test excluded from the fast inner-loop tier "
        "(-m 'not slow'); the round-end gate runs everything",
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = item.path.name
        func = getattr(item, "originalname", None) or item.name.split("[")[0]
        if fname in SLOW_FILES or (fname, func) in SLOW_FUNCS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from map_reduce_showcase_spark.session import get_spark

    s = get_spark(app_name="mrs-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the catalog tables registered as views
    — exactly how the driver runs ``oracle_sql()``."""
    con = duckdb.connect()
    from map_reduce_showcase_spark.sources.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


#: Inputs for the three reference apps, written under a session tmp
#: dir by ``app_inputs``. ``alphabet2`` has count ties (a, b, z, é all
#: occur 4 times) and non-ASCII letters that sort after ``z``;
#: ``gutenberg`` is six prose files, one with CRLF line ends, where
#: ``the``, ``Elizabeth`` and ``whale`` match in several files.
_APP_TEXTS = {
    "alphabet2": {
        "letters1.txt": "a b c d e\nA a, b! z\nz z é\n",
        "letters2.txt": "c-d 42 É\nÉté a_b\nx y\n",
        "letters3.txt": "b z é é\nÿ\n",
    },
    "gutenberg": {
        "book1.txt": (
            "The harbour was grey when Elizabeth walked down to the boats.\n"
            "Nobody there had seen a whale since the winter of the storm;\n"
            "\n"
            "still, the old men talked of them, and she listened.\n"
        ),
        "book2.txt": (
            "ELIZABETH wrote the letter twice, then burned both copies.\r\n"
            "Her brother said the sea would keep its own counsel.\r\n"
            "Elizabeth's answer was shorter than anyone expected.\r\n"
        ),
        "book3.txt": "A whale! A whale! cried the boy from the rigging.\nThen silence.\n",
        "book4.txt": "Rain, and more rain — the kind that soaks through wool.\n",
        "book5.txt": "They counted forty-two whales, or perhaps forty-one.\n",
        "book6.txt": (
            "At the end of the voyage the whalers were paid in salt cod.\n"
            "Other crews were paid in nothing at all.\n"
        ),
    },
}


def _edge_lines() -> list[str]:
    """Two-token edge lines over ~60 vertices, with a self-loop, a
    repeated edge, ids of 1-3 digits (numeric vs text order) and both
    tab and multi-space separators."""
    lines = [f"{(i * 7) % 61}\t{(i * 13 + 5) % 101}" for i in range(80)]
    return lines + ["0 0", "3   100", "3 100", "10 2"]


@pytest.fixture(scope="session")
def app_inputs(tmp_path_factory) -> dict[str, list[str]]:
    """Corpus name → sorted input file paths for wc, grep and
    vertex-degree: ``alphabet2`` and ``gutenberg`` (text) and
    ``edges`` (two edge-list files)."""
    root = tmp_path_factory.mktemp("app_inputs")
    edges = _edge_lines()
    files = {
        **_APP_TEXTS,
        "edges": {
            "edges1.txt": "\n".join(edges[::2]) + "\n",
            "edges2.txt": "\n".join(edges[1::2]) + "\n",
        },
    }
    corpora: dict[str, list[str]] = {}
    for corpus, texts in files.items():
        (root / corpus).mkdir()
        for name, text in texts.items():
            # newline="" keeps the CRLF file's line ends as written
            (root / corpus / name).write_text(text, encoding="utf-8", newline="")
        corpora[corpus] = sorted(str(root / corpus / name) for name in texts)
    return corpora
