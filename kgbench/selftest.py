"""Self-test of the output check, without Spark.

The check must accept a result whose rows (and columns) come in another
order, and reject one with a row dropped, a value altered or a row
duplicated. Run: python3 kgbench/selftest.py (exit code 0 on success).
"""

from __future__ import annotations

import sys

from check import compare

COLS = ["subj", "pred", "obj", "score"]
ROWS = [
    ("dbr:Apache_Spark", "kg:mentionedIn", "https://example.org/doc/1", 0.5),
    ("dbr:Hash_join", "rdf:type", "dbo:Algorithm", 1.0),
    ("dbr:Hash_join", "kg:category", "MISC", None),
    ("dbr:Customer", "kg:category", "PERSON", 0.1 + 0.2),
]


def cases() -> list[tuple[str, bool, list, list]]:
    """(name, must_match, cols, rows) variants of ``COLS``/``ROWS``."""
    perm = [2, 0, 3, 1]
    return [
        ("identical", True, COLS, ROWS),
        ("rows reordered", True, COLS, ROWS[::-1]),
        ("columns reordered", True, [COLS[i] for i in perm],
         [tuple(r[i] for i in perm) for r in ROWS]),
        ("float last-digit noise", True, COLS,
         ROWS[:3] + [ROWS[3][:3] + (0.3,)]),
        ("row dropped", False, COLS, ROWS[:-1]),
        ("value altered", False, COLS, ROWS[:1] + [ROWS[1][:2] + ("dbo:Band", 1.0)] + ROWS[2:]),
        ("row duplicated", False, COLS, ROWS + ROWS[1:2]),
        ("null altered", False, COLS, ROWS[:2] + [ROWS[2][:3] + (0.0,)] + ROWS[3:]),
    ]


def main() -> int:
    failures = []
    for name, must_match, cols, rows in cases():
        ok, why = compare(cols, rows, COLS, ROWS)
        if ok != must_match:
            failures.append(f"{name}: compare gave {ok} ({why})")
    for f in failures:
        print("check self-test FAILED:", f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
