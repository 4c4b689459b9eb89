"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload {delivery,catalog} \\
        --seed N --seconds S --trace {0,1}

From the root of a source checkout. Inputs are made from ``--seed``.
After set-up (session start, input generation, one untimed warm-up
pass) it runs whole passes until ``--seconds`` have elapsed, at least
two, checks every pass against the expected outputs, and prints as its
last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it carries
the run's details. The traced run also writes its spans under
``perfbench/out/``.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.bench import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
