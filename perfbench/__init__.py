"""Lake-writer benchmark: three workloads against the package's public API.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""

import os as _os
import sys as _sys

# the repo's DuckDB-oracle helpers (tests/oracle_utils.py) import as ``oracle_utils``
_sys.path.append(_os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tests"))
