#!/usr/bin/env python3
"""Exact diff of two graft.Verify result dumps.

Usage: python3 tools/diff_dumps.py <parentOut> <changeOut>

Each argument is a Verify output dir (one parquet dir per query plus
oracle_sql.json); its `<dir>_auxdata` sibling (the seeds and other aux
tables the oracles replay from) is compared too, as `_auxdata/<name>`.

For every dump it checks, exactly:
  - both sides hold the same set of dumps;
  - the schemas are equal (names, types, nullability, in order);
  - the rows are equal after sorting them canonically, with doubles and
    floats compared by bit pattern (so -0.0 vs 0.0 or a changed last bit
    is a difference) and nested values compared element by element.
It prints the first differing cell of each differing dump and exits 1 when
anything differs, 0 when the dumps are identical. oracle_sql.json is
compared with each side's own output path replaced by a placeholder.
"""
import json
import struct
import sys
from pathlib import Path

import pyarrow.parquet as pq


def dumps(out: Path) -> dict:
    """name -> parquet dir, for the query dumps and the aux sibling."""
    found = {p.name: p for p in out.iterdir() if p.is_dir()}
    aux = out.parent / (out.name + "_auxdata")
    if aux.is_dir():
        found.update({f"_auxdata/{p.name}": p
                      for p in aux.iterdir() if p.is_dir()})
    return found


def canon(v):
    """Totally ordered, exact stand-in for one cell value."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, v)
    if isinstance(v, int):
        return (2, v)
    if isinstance(v, float):
        return (3, struct.unpack(">Q", struct.pack(">d", v))[0])
    if isinstance(v, str):
        return (4, v)
    if isinstance(v, (bytes, bytearray)):
        return (5, bytes(v))
    if isinstance(v, (list, tuple)):
        return (6, tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return (7, tuple((k, canon(x)) for k, x in v.items()))
    return (8, type(v).__name__, str(v))


def shown(c) -> str:
    """Readable form of a canonical cell (doubles with their bits)."""
    if c[0] == 3:
        d = struct.unpack(">d", struct.pack(">Q", c[1]))[0]
        return f"{d!r} (bits {c[1]:#018x})"
    return repr(c[-1]) if len(c) > 1 else "null"


def diff_one(name: str, a: Path, b: Path):
    """First difference between two parquet dirs, or None."""
    ta, tb = pq.read_table(a), pq.read_table(b)
    sa = [(f.name, str(f.type), f.nullable) for f in ta.schema]
    sb = [(f.name, str(f.type), f.nullable) for f in tb.schema]
    if sa != sb:
        return f"schema {sa} vs {sb}"
    if ta.num_rows != tb.num_rows:
        return f"rows {ta.num_rows} vs {tb.num_rows}"
    cols = [f[0] for f in sa]

    def rows(t):
        return sorted(tuple(canon(r[c]) for c in cols) for r in t.to_pylist())

    for i, (ra, rb) in enumerate(zip(rows(ta), rows(tb))):
        for c, x, y in zip(cols, ra, rb):
            if x != y:
                return f"sorted row {i}, column {c}: {shown(x)} vs {shown(y)}"
    return None


def oracle_sql(out: Path):
    p = out / "oracle_sql.json"
    if not p.exists():
        return None
    text = p.read_text().replace(str(out.absolute()), "__VERIFY_OUT__")
    return json.loads(text)


def main(parent: str, change: str) -> int:
    pa, pb = Path(parent), Path(change)
    da, db = dumps(pa), dumps(pb)
    bad = 0
    for n in sorted(set(da) ^ set(db)):
        side = "parent" if n in da else "change"
        print(f"{n}: only in {side}")
        bad += 1
    common = sorted(set(da) & set(db))
    for n in common:
        d = diff_one(n, da[n], db[n])
        if d:
            print(f"{n}: {d}")
            bad += 1
    if oracle_sql(pa) != oracle_sql(pb):
        print("oracle_sql.json: differs")
        bad += 1
    print(f"{len(common)} dumps compared, {bad} differences")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
