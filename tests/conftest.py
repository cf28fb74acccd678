import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from real_time_event_driven_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s
    s.stop()


# --- fast default tier (r11, r10 verdict item 1) -------------------
# Tests measured >= 15 s each in the full-suite durations run (this
# box, 2026-08-18) are marked `slow` HERE, in one auditable list,
# rather than scattering pytestmark edits across files.  pytest.ini's
# `-m "not slow"` deselects them by default so the driver's pytest
# window sees a completed green tail; `pytest -m ""` runs everything.
# The two plan-gate sweeps (cartesian/window funnels) stay in the fast
# tier deliberately — they are the cheapest whole-registry regression
# gates and together cost ~90 s.
SLOW_TESTS = {
    "test_bpe_fit_local_fast_path_matches_distributed",
    "test_bpe_rematerialize_cadence_is_trajectory_invariant",
    "test_curriculum_cut_partitioning_independent",
    "test_kmeans_partitioning_independence_property",
    "test_cc_matches_union_find",
    "test_cc_null_ids_match_between_paths",
    "test_cc_raises_on_nonconvergence",
    "test_cc_string_ids_match_union_find",
    "test_incremental_cc_fold_equals_batch",
    "test_star_cc_long_chain_few_rounds",
    "test_star_cc_matches_union_find",
    "test_star_cc_on_fixed_graphs",
    "test_cluster_label_sidecar_tracks_evolving_dup_graph",
    "test_curation_pipeline_gates_across_activations",
    "test_decontamination_gate_quarantines_eval_overlap",
    "test_embedding_gate_backfill_indexes_pregate_history",
    "test_embedding_gate_quarantines_paraphrase_dups",
    "test_image_gate_backfill_indexes_pregate_history",
    "test_image_gate_quarantines_perceptual_dups",
    "test_image_gate_within_batch_chain_drops_conservatively",
    "test_incremental_manifest_continues_across_epochs",
    "test_instrument_io_records_stage_deltas",
    "test_manifest_backfill_assigns_preflag_history",
    "test_manifest_backfill_refusals",
    "test_posting_sidecar_tracks_accepted",
    "test_reindex_embedding_lsh_index_migrates_bucket_space",
    "test_reindex_image_dhash_index_migrates_band_space",
    "test_reliable_checkpoint_mode_same_gating",
    "test_all_queries_match_oracle_sf0001",
    "test_curation_gate_partial_replay_converges",
    "test_curation_gate_skips_committed_epoch",
    "test_incremental_embedding_gate_properties",
    "test_incremental_indexed_cap_preserves_recall",
    "test_indexed_gate_probed_restriction_property",
    "test_lsh_plane_autosizing",
    "test_scd2_merge_equals_rebuild_property",
}


TESTS_DIR = Path(__file__).resolve().parent


def _collects_whole_suite(config) -> bool:
    """True when some command-line path is this directory or above it,
    so every test module here was collected."""
    targets = {TESTS_DIR, *TESTS_DIR.parents}
    args = [a.split("::")[0] for a in config.args]
    return any(Path(config.invocation_params.dir, a).resolve() in targets for a in args)


def pytest_collection_modifyitems(session, config, items):
    names = set()
    for item in items:
        name = item.name.split("[")[0]
        names.add(name)
        if name in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    # a renamed or deleted test must not drop out of the slow set
    # silently; a module that failed to import cannot be checked
    stale = SLOW_TESTS - names
    if stale and not session.testsfailed and _collects_whole_suite(config):
        raise pytest.UsageError(
            f"SLOW_TESTS entries match no collected test: {sorted(stale)}"
        )
