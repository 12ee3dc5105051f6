#!/usr/bin/env python3
"""Compare two Verify dump trees query by query.

Usage: python3 tools/diff_dumps.py [--mem-gb G] [--timeout S]
                                   <dump_a> <dump_b> [query ...]

A dump tree is what `runMain graft.Verify <sfDir> <outDir>` writes: one
parquet directory per query. For every query directory present in
either tree (or only the named ones) the tool checks, in DuckDB:

  - both sides exist;
  - the same column names and DuckDB types, in the same order;
  - `A EXCEPT ALL B` and `B EXCEPT ALL A` are both empty, i.e. the two
    results are equal as multisets of rows (NULLs compare equal).

Each query runs in its own process with a DuckDB memory limit, one
thread, an address-space cap of `--mem-gb` (default 3) and a wall
clock of `--timeout` seconds (default 600), so one oversized result
cannot take the host or the rest of the run down. It needs no oracle
SQL and no test data, so it also covers queries whose DuckDB twin is
too large to evaluate at a factor: if a change's dumps equal its
parent's, no oracle verdict can differ between them.

Prints one line per query (SAME / DIFF / ERR) and a summary, and
exits 1 on any difference or error, else 0.
"""
import glob
import os
import resource
import subprocess
import sys


def files(d: str) -> list:
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def query_dirs(root: str) -> set:
    return {n for n in os.listdir(root)
            if os.path.isdir(os.path.join(root, n))}


def compare_one(a_dir: str, b_dir: str, mem_gb: float) -> str:
    """Runs in the child process: returns 'SAME ...' or 'DIFF ...'."""
    import duckdb
    fa, fb = files(a_dir), files(b_dir)
    if not fa or not fb:
        return "SAME no parquet on either side" if not fa and not fb \
            else f"DIFF parquet files: {len(fa)} vs {len(fb)}"
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"SET memory_limit = '{max(0.5, mem_gb * 0.6):.1f}GB'")
    con.execute("SET preserve_insertion_order = false")
    for name, fs in (("a", fa), ("b", fb)):
        lst = ", ".join("'" + f.replace("'", "''") + "'" for f in fs)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{lst}])")
    sa = con.execute("DESCRIBE a").fetchall()
    sb = con.execute("DESCRIBE b").fetchall()
    ta = [(r[0], r[1]) for r in sa]
    tb = [(r[0], r[1]) for r in sb]
    if ta != tb:
        return f"DIFF schema {ta} vs {tb}"
    na = con.execute("SELECT count(*) FROM a").fetchone()[0]
    nb = con.execute("SELECT count(*) FROM b").fetchone()[0]
    if na != nb:
        return f"DIFF rows {na} vs {nb}"
    ab = con.execute(
        "SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)"
    ).fetchone()[0]
    ba = con.execute(
        "SELECT count(*) FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a)"
    ).fetchone()[0]
    if ab or ba:
        return f"DIFF {ab} rows only in A, {ba} rows only in B (of {na})"
    return f"SAME {na} rows"


def main(argv: list) -> int:
    mem_gb, timeout, rest = 3.0, 600, []
    i = 0
    while i < len(argv):
        if argv[i] == "--mem-gb":
            mem_gb = float(argv[i + 1]); i += 2
        elif argv[i] == "--timeout":
            timeout = int(argv[i + 1]); i += 2
        else:
            rest.append(argv[i]); i += 1
    if len(rest) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    a_root, b_root, only = rest[0], rest[1], set(rest[2:])
    names = sorted(query_dirs(a_root) | query_dirs(b_root))
    if only:
        names = [n for n in names if n in only]
        missing = only - set(names)
        if missing:
            print(f"ERR not in either tree: {sorted(missing)}")
            return 1
    cap = int(mem_gb * 1024 ** 3)

    def limit():
        resource.setrlimit(resource.RLIMIT_AS, (cap, cap))

    counts = {"SAME": 0, "DIFF": 0, "ERR": 0}
    for n in names:
        a_dir, b_dir = os.path.join(a_root, n), os.path.join(b_root, n)
        if not (os.path.isdir(a_dir) and os.path.isdir(b_dir)):
            verdict = "DIFF missing in " + ("B" if os.path.isdir(a_dir) else "A")
        else:
            try:
                p = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--one",
                     a_dir, b_dir, str(mem_gb)],
                    capture_output=True, text=True, timeout=timeout,
                    preexec_fn=limit)
                out = p.stdout.strip().splitlines()
                verdict = out[-1] if p.returncode == 0 and out else \
                    f"ERR exit {p.returncode}: {p.stderr.strip()[-300:]}"
            except subprocess.TimeoutExpired:
                verdict = f"ERR timeout after {timeout} s"
        counts[verdict.split(" ", 1)[0]] += 1
        print(f"{verdict.split(' ', 1)[0]} {n}: {verdict.split(' ', 1)[1]}",
              flush=True)
    print(f"{counts['SAME']} same, {counts['DIFF']} differ, "
          f"{counts['ERR']} errors ({len(names)} queries)")
    return 0 if counts["DIFF"] == 0 and counts["ERR"] == 0 else 1


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "--one":
        print(compare_one(sys.argv[2], sys.argv[3], float(sys.argv[4])))
        sys.exit(0)
    sys.exit(main(sys.argv[1:]))
