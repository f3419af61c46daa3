"""Write the expected outputs the benchmark checks against:
``golden_analyze.json`` (``pipeline.analyze`` of every request body of
the pool) and ``golden_batch.json`` (the output checksum of every batch
query on the fixed batch tables), as the current code computes them.

    python3 perfbench/record_golden.py

Run it only on code whose outputs are known to be right; the benchmark
fails every operation whose output differs from these files.
"""

from __future__ import annotations

import json
import os

import run


def _write(path: str, golden: dict) -> None:
    with open(path, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> None:
    run._environment()
    import checks
    import workloads

    spark = run.start_spark()
    try:
        analyze = workloads.record_golden_analyze(spark)
        batch = workloads.record_golden_batch(spark, os.path.join(run.WORK, "data"))
    finally:
        run.stop_spark(spark)
    _write(checks.GOLDEN_ANALYZE, analyze)
    _write(checks.GOLDEN_BATCH, batch)


if __name__ == "__main__":
    main()
