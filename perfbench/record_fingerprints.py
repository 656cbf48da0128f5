#!/usr/bin/env python3
"""Record the curate workload's expected minhash pair set and simhash
fingerprints for the current generated documents.

    python3 perfbench/record_fingerprints.py

Run it from the repository root after changing data.py (bump
DATA_VERSION first), with an engine whose dedup output is trusted; it
adds an entry for the data version to fingerprints.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run

sys.path.insert(0, run.ROOT)

import data  # noqa: E402
import reference  # noqa: E402
import workloads  # noqa: E402
from inferdb_spark import catalog, session  # noqa: E402
from inferdb_spark.operators import dedup  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    data_dir = data.ensure_data(run.ROOT)
    conf = run.confine_to_checkout(os.path.join(run.BUILD, "perfbench-record", "tmp"))
    spark = session.get_spark(app_name="perfbench-record", extra_conf=conf)
    try:
        docs = catalog.load_table(spark, data_dir, "documents")
        pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", **workloads.MINHASH).collect()
        fps = docs.select("doc_id", F.expr(dedup.simhash_sql("text")).alias("fp")).collect()
    finally:
        run.stop_spark(spark)
        shutil.rmtree(os.path.join(run.BUILD, "perfbench-record"), ignore_errors=True)
    path = os.path.join(run.HERE, "fingerprints.json")
    recorded = json.load(open(path)) if os.path.exists(path) else {}
    recorded[f"data-v{data.DATA_VERSION}"] = {
        "minhash_pairs": len(pairs),
        "minhash_pairs_sha256": reference.fingerprint(pairs),
        "simhash_sha256": reference.fingerprint(fps),
    }
    with open(path, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(recorded[f"data-v{data.DATA_VERSION}"]))


if __name__ == "__main__":
    main()
