"""A fresh process that only starts the session: one ``setup_s`` sample.

Measures from the launch time ``run.py`` passes in ``PERFBENCH_T0``
until ``session.get_spark`` returns, writes ``{"setup_s": ...}`` to the
path given as the only argument, and stops the session.
"""

from __future__ import annotations

import json
import os
import sys
import time

if __name__ == "__main__":
    t0 = float(os.environ["PERFBENCH_T0"])
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cloud_dataflow_batch_processing_spark.session import get_spark

    spark = get_spark()
    setup_s = time.time() - t0
    with open(sys.argv[1], "w") as f:
        json.dump({"setup_s": setup_s}, f)
    spark.stop()
