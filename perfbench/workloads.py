"""The benchmark's workloads: which registry queries a pass runs, and the
final action that materializes each one.

Why each workload exists (README.md says which metric each layer should
move on which workload):

- ``srm_nightly`` is the paper's nightly job in miniature: the meser
  staging upsert streamed in micro-batches (q137) and the manual-fix
  write-back (q141), each published as a parquet stage through
  ``sinks.files.write_parquet_stage``. It is driver-bound: plan
  construction, construction-time jobs, checkpoint pins and the streaming
  protocol dominate. It is the only workload that writes and the only one
  that streams.
- ``corpus_dedup`` runs the LLM-data dedup operators (MinHash, SimHash with
  a pandas UDF, substring dedup) with a ``noop`` write: shuffle- and
  Python-worker-bound, with little construction and no pins. It is the
  control for construction, pin and streaming changes, and the only
  workload where Python UDF time is material.
"""

from __future__ import annotations

from typing import NamedTuple


class Workload(NamedTuple):
    queries: tuple[str, ...]
    action: str  # "parquet": sinks.files.write_parquet_stage; "noop": noop write
    # passes after the first: a fixed count, because the JVM keeps warming up
    # for several passes and a time-bounded count would let host speed move
    # the median pass
    later_passes: int


WORKLOADS: dict[str, Workload] = {
    "srm_nightly": Workload(
        (
            "q137_meser_streaming_staging",
            "q141_manual_fix_status",
        ),
        "parquet",
        1,
    ),
    "corpus_dedup": Workload(
        (
            "q26_minhash_dedup",
            "q27_simhash_pairs",
            "q110_substring_dedup_clean",
        ),
        "noop",
        5,
    ),
}
