"""The artifact-I/O tests again, on the seam's remote branch.

Every test imported below also runs in its own module against the
local (pyarrow) branch.  Here the ``remote_io`` fixture (conftest.py)
applies to each of them, so every checkpoint, summary and meta-row read
and write goes through Spark, the way it does on s3a:, hdfs: or abfs:.
"""

import pytest

from test_band_store import (  # noqa: F401
    test_band_store_meta_guard,
    test_band_store_pairs_equal_recompute,
    test_compact_band_store_identical_pairs,
    test_compact_recovery_rolls_forward_committed,
    test_hashes_ph_layout_meta_pin_and_append_adopts,
)
from test_dataset import (  # noqa: F401
    data,
    test_failed_waves_do_not_commit_drift_baseline,
    test_full_run_and_resume,
    test_in_memory_input_never_resumes,
    test_reused_out_dir_never_mixes_lineages,
    test_run_with_sequence_rules,
    test_waves_commit_incrementally,
)
from test_dsir import test_stored_dsir_model_matches_inmemory  # noqa: F401
from test_pq import test_residual_index_matches_numpy_replay  # noqa: F401
from test_streaming_ingest import (  # noqa: F401
    test_corpus_ingest_epoch_retry_is_idempotent,
)
from test_surprisal import (  # noqa: F401
    test_stored_ngram_model_matches_inmemory,
)

pytestmark = pytest.mark.usefixtures("remote_io")
