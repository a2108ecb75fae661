"""Thin interactive REPL for the query language — the raft-cli analog
(reference: runcli, src/raftcli.c:126-183) minus the wire protocol
(the `$/!/#/~/:/;` framing of src/encoding.h:16-23 is a non-goal per
SURVEY §7.3.8; the engine is in-process).

Usage:  python -m raft_c_spark.repl [--warehouse DIR]
"""

from __future__ import annotations

import argparse
import sys

from raft_c_spark.frontend.ast import ParseError


def format_rows(rows, max_rows: int = 40) -> str:
    if not rows:
        return "(empty set)"
    cols = rows[0].__fields__
    head = [cols] + [
        [str(r[c]) for c in cols] for r in rows[:max_rows]
    ]
    widths = [max(len(row[i]) for row in head) for i in range(len(cols))]
    lines = ["  ".join(h.ljust(w) for h, w in zip(head[0], widths))]
    for row in head[1:]:
        lines.append("  ".join(v.ljust(w) for v, w in zip(row, widths)))
    if len(rows) > max_rows:
        lines.append(f"... ({len(rows) - max_rows} more rows)")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="raft_c_spark query REPL")
    ap.add_argument("--warehouse", default=None, help="warehouse directory")
    ap.add_argument(
        "-c", "--command", default=None,
        help="execute one statement (semicolon-separated) and exit",
    )
    args = ap.parse_args(argv)

    from raft_c_spark.engine import Engine
    from raft_c_spark.session import get_spark

    spark = get_spark("raft_c_spark_repl")
    engine = Engine(spark, warehouse=args.warehouse)

    def run_one(stmt: str) -> int:
        stmt = stmt.strip()
        if not stmt:
            return 0
        try:
            print(format_rows(engine.execute(stmt).collect()))
            return 0
        except Exception as e:  # noqa: BLE001 - REPL surface
            print(f"error: {e}", file=sys.stderr)
            return 1

    def _split_statements(text: str) -> list[str]:
        """Split on ';' OUTSIDE single-quoted literals (reviewer r8:
        a naive split broke any statement whose '...' literal
        contains a semicolon)."""
        parts, buf, in_q = [], [], False
        for ch in text:
            if ch == "'":
                in_q = not in_q
            if ch == ";" and not in_q:
                parts.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        parts.append("".join(buf))
        return parts

    if args.command:
        rc = 0
        for stmt in _split_statements(args.command):
            rc |= run_one(stmt)
        spark.stop()
        return rc

    print("raft_c_spark REPL — query language per SURVEY §2; Ctrl-D to exit")
    while True:
        try:
            line = input(f"{engine.current_db or '(no db)'}> ")
        except EOFError:
            print()
            break
        except KeyboardInterrupt:
            print()
            continue
        run_one(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
