#!/usr/bin/env python
"""Full-registry oracle parity at sf0.01, the driver's own check scale.

The driver's CORRECTNESS_r{N}.json covers only the first 50 registered
queries; this writes CORRECTNESS_LOCAL.json, the committed record that every
registered query holds parity. It is ``tools/parity_bigsf.py`` with the
sf0.01 defaults and takes the same options.

Usage: python correctness_full.py [--sf-dir /root/testdata/sf0.01]
           [--budget 120] [--out CORRECTNESS_LOCAL.json]
           [--only a,b,c] [--changed-only] [--merge]
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))

from parity_bigsf import main  # noqa: E402

if __name__ == "__main__":
    main(sf_dir="/root/testdata/sf0.01", out="CORRECTNESS_LOCAL.json")
