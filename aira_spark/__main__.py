"""CLI parity with the reference's `aira tiffdump`
(/root/reference/crates/aira-cli/src/cmd/tiffdump.rs:10-12):

    python -m aira_spark tiffdump [--json] [--max N] FILE...

Dumps every IFD of every file — terminal form by default, JSON lines with
--json. Runs on the pure-Python decode core (no Spark session needed for
local files; the distributed form is operators/tiffdump.ifd_entries).
"""

from __future__ import annotations

import argparse
import json
import sys


def tiffdump(argv: list[str]) -> int:
    from .operators.tiffdump import _dump_rows

    ap = argparse.ArgumentParser(prog="aira_spark tiffdump")
    ap.add_argument("files", nargs="+")
    ap.add_argument("--json", action="store_true", help="JSON-lines output")
    ap.add_argument("--max", type=int, default=10, help="max items per value")
    args = ap.parse_args(argv)

    status = 0
    for path in args.files:
        try:
            with open(path, "rb") as f:
                buf = f.read()
        except OSError as exc:
            print(f"{path}: {exc}", file=sys.stderr)
            status = 1
            continue
        rows = _dump_rows(path, buf, args.max)
        if args.json:
            for r in rows:
                print(json.dumps(r))
            continue
        last = None
        for r in rows:
            if r["error"] and r["tag"] is None:
                print(f"{path}: error: {r['error']}", file=sys.stderr)
                status = 1
                continue
            if r["page"] != last:
                print(f"== {path} directory {r['page']} ==")
                last = r["page"]
            print(
                f"  {r['tag_name']} ({r['tag']}) "
                f"{r['dtype_name']}[{r['count']}] = {r['value']}"
            )
    return status


def geoinfo(argv: list[str]) -> int:
    """Georeference summary per file/page: CRS geokeys, geotransform,
    world-space footprint (the engine-side GeoTIFF semantics the reference
    only carries as raw tags)."""
    from .tiff.meta import TiffError, decode_all_pages, parse_geokeys

    ap = argparse.ArgumentParser(prog="aira_spark geoinfo")
    ap.add_argument("files", nargs="+")
    ap.add_argument("--json", action="store_true", help="JSON-lines output")
    args = ap.parse_args(argv)

    status = 0
    for path in args.files:
        try:
            with open(path, "rb") as f:
                buf = f.read()
            pages = decode_all_pages(buf)
        except (OSError, TiffError) as exc:
            # same error contract in both modes: a machine-readable row in
            # --json, a stderr line otherwise, and a nonzero exit either way
            if args.json:
                print(json.dumps({"file": path, "error": str(exc)}))
            print(f"{path}: error: {exc}", file=sys.stderr)
            status = 1
            continue
        for i, m in enumerate(pages):
            rec: dict = {"file": path, "page": i, "width": m["width"],
                         "height": m["height"]}
            gk = None
            try:
                gk = parse_geokeys(m)
                rec["geokeys"] = gk
            except TiffError as exc:
                # malformed geokeys: degrade per page, keep going
                rec["error"] = str(exc)
                status = 1
            if m["geo"] is not None:
                sv, tv = m["geo"]
                x0 = tv[3] - tv[0] * sv[0]
                y1 = tv[4] + tv[1] * sv[1]
                rec["scale"] = [sv[0], sv[1]]
                rec["footprint"] = [
                    x0, y1 - m["height"] * sv[1], x0 + m["width"] * sv[0], y1,
                ]
            if args.json:
                print(json.dumps(rec))
            else:
                print(f"== {path} page {i}: {m['width']}x{m['height']} ==")
                if rec.get("error"):
                    print(f"  error: {rec['error']}", file=sys.stderr)
                if gk:
                    print(f"  geokeys: {gk}")
                if "footprint" in rec:
                    fx = rec["footprint"]
                    print(f"  scale: {rec['scale']}")
                    print(
                        f"  footprint: [{fx[0]:.6f}, {fx[1]:.6f}] .. "
                        f"[{fx[2]:.6f}, {fx[3]:.6f}]"
                    )
    return status


def main() -> int:
    ap = argparse.ArgumentParser(prog="aira_spark")
    ap.add_argument("command", choices=["tiffdump", "geoinfo"])
    args, rest = ap.parse_known_args()
    if args.command == "tiffdump":
        return tiffdump(rest)
    if args.command == "geoinfo":
        return geoinfo(rest)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
