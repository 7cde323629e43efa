"""Pure helpers of the benchmark: percentile selection, the canonical
result hash and span self time."""
import hashlib
import math
from collections import defaultdict

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile of `values`, or None when fewer than
    MIN_BEYOND samples lie above it (too few to say anything about it)."""
    xs = sorted(values)
    if not xs:
        return None
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    if len(xs) - k < MIN_BEYOND:
        return None
    return xs[k - 1]


# The canonical form of tools/check.py: columns in name order, each value
# as text (floats rounded to 9 places), rows sorted, md5 over the lines.
def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def parquet_hash(con, files):
    """(row count, canonical hash) of the rows in parquet `files`, read
    with the DuckDB connection `con`."""
    cur = con.execute(f"SELECT * FROM read_parquet({sorted(files)!r})")
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return len(rows), table_hash(cols, rows)


def _covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def span_times(spans):
    """{span name: (total ms, self ms)} over `spans`, a list of
    (id, parent id or None, name, start ms, end ms). A span's self time
    is its duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for _, parent, _, start, end in spans:
        if parent is not None:
            kids[parent].append((start, end))
    out = defaultdict(lambda: [0.0, 0.0])
    for sid, _, name, start, end in spans:
        out[name][0] += end - start
        out[name][1] += end - start - _covered(kids.get(sid, ()), start, end)
    return {k: tuple(v) for k, v in out.items()}
