"""Expected row counts of ``queries()`` slots from their DuckDB twins.

    python3 perfbench/oracle.py <tables_dir> <slot> [<slot> ...]

Prints one JSON object ``{slot: rows}``. The benchmark runs it in a child
process before it starts Spark, so DuckDB's memory never shows in the
benchmark's own peak-RSS figure.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.getcwd()


def load_verify_local():
    """``tools/verify_local.py`` (the DuckDB oracle harness), loaded by
    path, with ``sys.path`` restored afterwards: the tool prepends its
    own checkout path on import."""
    import importlib.util

    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "verify_local", os.path.join(ROOT, "tools", "verify_local.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def main(argv: list[str]) -> int:
    data_dir, names = argv[0], argv[1:]
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = load_verify_local().duck_conn(data_dir)
    print(json.dumps({
        n: con.execute(f"SELECT count(*) FROM ({sql[n]}) AS q").fetchone()[0]
        for n in names
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
