#!/usr/bin/env python3
"""Print the registry's names and a hash of each oracle string.

One line per ``__spark_entry__.queries()`` entry, sorted by name:
``name<TAB>sha256(oracle_sql()[name])``. Run it on two checkouts and
diff the output to show that a change kept the registry's names and
oracle strings byte for byte.

Usage: python scripts/registry_snapshot.py > snapshot.tsv
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    for name in sorted(entrymod.queries()):
        digest = hashlib.sha256(oracles[name].encode()).hexdigest()
        print(f"{name}\t{digest}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
