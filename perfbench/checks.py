"""Output checks against the generator's ground truth. Each check is one
unit: ``Checks.attempted`` counts them and ``Checks.failed`` the ones that
did not match, with a reason kept for the report."""

from __future__ import annotations

import glob
import os
import re


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    @property
    def failed(self) -> int:
        return len(self.failures)

    def expect(self, what: str, got, want) -> bool:
        self.attempted += 1
        if got != want:
            self.failures.append(f"{what}: got {_short(got)}, "
                                 f"want {_short(want)}")
            return False
        return True


def _short(v) -> str:
    s = repr(sorted(v) if isinstance(v, set) else v)
    return s if len(s) < 200 else s[:200] + "..."


_INSERT = re.compile(r"INSERT INTO \S+ \(([^)]*)\) VALUES\n(.*);\n",
                     re.DOTALL)


def fwm_totals(exp_dir: str, mo: str, cols=("octets", "packets")):
    """Sum of the given value columns over every exported SQL file of the
    MO's fwm (top-N rows plus the "others" row, all windows/epochs), and
    the number of files and rows read."""
    tot = dict.fromkeys(cols, 0)
    files = rows = 0
    for path in glob.glob(os.path.join(exp_dir, f"{mo}.fwm.*", "*.sql")):
        with open(path) as fh:
            m = _INSERT.search(fh.read())
        if m is None:
            continue
        files += 1
        names = [c.strip() for c in m.group(1).split(",")]
        idx = {c: names.index(c) for c in cols}
        for line in m.group(2).split("\n"):
            vals = _split_row(line.strip().rstrip(","))
            rows += 1
            for c, i in idx.items():
                if vals[i] != "NULL":
                    tot[c] += int(float(vals[i]))
    return tot, files, rows


def _split_row(line: str) -> list[str]:
    """Values of one ``(a, b, 'c, d', ...)`` tuple."""
    inner = line[1:-1]
    out, cur, quoted = [], [], False
    for ch in inner:
        if ch == "'":
            quoted = not quoted
        if ch == "," and not quoted:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur).strip())
    return out


def read_alerts(path: str) -> list[tuple[float, str, int]]:
    """(stamp, mo, key) lines written by the NEW action script."""
    out = []
    if not os.path.exists(path):
        return out
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) == 3:
                out.append((float(parts[0]), parts[1], int(parts[2])))
    return out


def alert_sets(alerts) -> dict[str, set[int]]:
    out: dict[str, set[int]] = {}
    for _ts, mo, key in alerts:
        out.setdefault(mo, set()).add(key)
    return out
