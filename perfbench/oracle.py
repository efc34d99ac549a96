"""DuckDB oracle check for query_mix. It runs tools/check_oracle.py's own
comparison on one results directory and reads the per-query verdicts from
that script's report. A query without oracle SQL must return rows, and
every query the program ran must have a result."""
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check_oracle  # noqa: E402

TABLES = check_oracle.TABLES

# one report line per q* result directory: "  <query>: <verdict>"
_VERDICT = re.compile(r"^  (q\w+): (.*)$")
_ROWS_ONLY = re.compile(r"^rows=(\d+) \(no oracle")


def check(table_dir, results_dir, queries):
    """{query: reason} for every query in `queries` whose result is
    missing, differs from its oracle, or (rows-only queries) is empty."""
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check_oracle.main(table_dir, results_dir)
    seen, bad = set(), {}
    for line in report.getvalue().splitlines():
        m = _VERDICT.match(line)
        if not m:
            continue
        name, verdict = m.groups()
        seen.add(name)
        rows = _ROWS_ONLY.match(verdict)
        if verdict.startswith("OK") or (rows and int(rows.group(1)) > 0):
            continue
        bad[name] = verdict
    for q in queries:
        if q not in seen:
            bad[q] = "no result"
    return bad
