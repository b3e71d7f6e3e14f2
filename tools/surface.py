"""Size of the engine's surface: its line counts and the knobs of the
lake's entry points.

    python tools/surface.py

Run it from the repository root or from anywhere else: paths resolve
from this file. Prints the ``wc -l`` line count and the count of
non-blank, non-comment lines of the package plus ``__spark_entry__.py``,
the source line count of the two heaviest functions (``HEAVY``, read
with ``inspect.getsourcelines``), then, for each public lake entry
point of ``corpus_pipeline``, its knob count (the parameters with a
default value, read with ``inspect.signature``) and the total.
Importing the package starts no Spark session.
"""

from __future__ import annotations

import inspect
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from projet_big_data_boutin_danre_spark import corpus_pipeline as cp  # noqa: E402

PACKAGE = "projet_big_data_boutin_danre_spark"
HEAVY = (cp.incremental_ingest, cp.maintain_lake)
ENTRY_POINTS = (
    cp.incremental_ingest,
    cp.streaming_ingest,
    cp.maintain_lake,
    cp.build_text_index,
    cp.update_line_census,
)


def source_files() -> list[str]:
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(ROOT, PACKAGE)):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    return sorted(files)


def line_counts(files: list[str]) -> tuple[int, int]:
    """(all lines, non-blank lines not starting with ``#``)."""
    total = code = 0
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                total += 1
                stripped = line.strip()
                code += bool(stripped) and not stripped.startswith("#")
    return total, code


def knobs(fn) -> int:
    return sum(
        p.default is not inspect.Parameter.empty
        for p in inspect.signature(fn).parameters.values()
    )


def main() -> None:
    total, code = line_counts(source_files())
    print(f"lines (wc -l): {total}")
    print(f"lines (non-blank, non-comment): {code}")
    for fn in HEAVY:
        print(f"lines {fn.__name__}: {len(inspect.getsourcelines(fn)[0])}")
    counts = {fn.__name__: knobs(fn) for fn in ENTRY_POINTS}
    for name, n in counts.items():
        print(f"knobs {name}: {n}")
    print(f"knobs total: {sum(counts.values())}")


if __name__ == "__main__":
    main()
