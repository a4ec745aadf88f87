"""Compare the checked pass's outputs with the DuckDB oracle.

Usage: python3 perfbench/oracle.py <data_dir> <check_dir>

`<check_dir>/expect.json` maps each operation that produced output to
its registry row's oracle SQL (null for a declared rows-only row). Each
output is compared through tools/check.py's `compare`, which ends in its
canonical typed hash; a rows-only row must be non-empty. One line per
operation, `name<TAB>OK|FAIL<TAB>rows`, goes to `<check_dir>/verdict.tsv`.
"""
import contextlib
import json
import os
import sys
from pathlib import Path

# leave no bytecode caches in the source tree
sys.dont_write_bytecode = True

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
import check  # noqa: E402  (the program's own oracle comparator)


def main(data_dir: str, check_dir: str) -> None:
    out = Path(check_dir)
    expect = json.loads((out / "expect.json").read_text())
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 4}")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    lines = []
    for name, e in expect.items():
        sdf = con.execute(f"SELECT * FROM '{out / name}/*.parquet'").df()
        if e["sql"] is None:
            ok = len(sdf) > 0
        else:
            odf = con.execute(e["sql"]).df()
            # compare() reports on stdout; keep the log with the run
            with contextlib.redirect_stdout(sys.stderr):
                ok = check.compare(name, sdf, odf)
        lines.append(f"{name}\t{'OK' if ok else 'FAIL'}\t{len(sdf)}")
    (out / "verdict.tsv").write_text("\n".join(lines) + "\n")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
