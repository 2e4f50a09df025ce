"""Build the --py-files zip of entity_resolution_spark.

Usage: python scripts/build_pyfiles_zip.py [out.zip]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from entity_resolution_spark.entrypoints import write_package_zip  # noqa: E402

if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/er_pkg.zip"
    print(write_package_zip(out))
