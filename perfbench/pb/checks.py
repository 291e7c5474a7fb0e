"""Output checks. Each returns a list of failures, one dict per problem;
an empty list means the output is correct."""
import collections
import contextlib
import importlib.util
import io
import os
import struct
import zlib

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def frames_landed(rows, expected):
    """Every expected (camera_id, frame_ms) key lands exactly once and
    nothing else lands. Returns (failures, keys that landed exactly once)."""
    counts = collections.Counter(rows)
    once = {k for k, c in counts.items() if c == 1 and k in expected}
    failures = []
    missing = expected - set(counts)
    dups = sorted(k for k, c in counts.items() if c > 1)
    extra = sorted(set(counts) - expected)
    if missing:
        failures.append({"check": "frame_missing", "count": len(missing),
                         "first": sorted(missing)[:3]})
    if dups:
        failures.append({"check": "frame_duplicated", "count": len(dups), "first": dups[:3]})
    if extra:
        failures.append({"check": "frame_unexpected", "count": len(extra), "first": extra[:3]})
    return failures, once


def png_geometry(data):
    """(rows, cols) of a PNG whose pixel data fully decodes, else raises."""
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    at, idat, ihdr = 8, [], None
    while at < len(data):
        n, kind = struct.unpack(">I4s", data[at:at + 8])
        body = data[at + 8:at + 8 + n]
        if zlib.crc32(kind + body) != struct.unpack(">I", data[at + 8 + n:at + 12 + n])[0]:
            raise ValueError(f"bad CRC in {kind!r}")
        if kind == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif kind == b"IDAT":
            idat.append(body)
        at += 12 + n
    if ihdr is None:
        raise ValueError("no IHDR")
    cols, rows, depth, color = ihdr[:4]
    if depth != 8 or color not in PNG_CHANNELS:
        raise ValueError(f"unexpected depth {depth} / color type {color}")
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != rows * (1 + cols * PNG_CHANNELS[color]):
        raise ValueError(f"pixel data is {len(raw)} bytes for {cols}x{rows}")
    return rows, cols


def pngs(img_dir, expected_names, rows, cols):
    """The PNG side-output holds exactly `expected_names`, each decoding to
    rows x cols. Returns (failures, file count, total bytes)."""
    found = set(os.listdir(img_dir)) if os.path.isdir(img_dir) else set()
    failures, total = [], 0
    if found != expected_names:
        failures.append({"check": "png_set", "dir": img_dir, "expected": len(expected_names),
                         "found": len(found), "missing": sorted(expected_names - found)[:3],
                         "unexpected": sorted(found - expected_names)[:3]})
    for name in sorted(found):
        with open(os.path.join(img_dir, name), "rb") as f:
            data = f.read()
        total += len(data)
        try:
            got = png_geometry(data)
        except (ValueError, zlib.error, struct.error) as e:
            failures.append({"check": "png_decode", "file": name, "error": str(e)})
            continue
        if got != (rows, cols):
            failures.append({"check": "png_geometry", "file": name, "got": list(got),
                             "want": [rows, cols]})
    return failures, len(found), total


def png_name(camera, frame_ms):
    return f"{camera}-T-{frame_ms}.png"


def _verify_local(root):
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "tools", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def catalog(root, tables_dir, results_dir, entries):
    """Each entry's result matches its oracle SQL in DuckDB, compared the
    way tools/verify_local.py compares them; an entry without oracle SQL
    must produce rows. Returns (failures, per-entry verdicts)."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        _verify_local(root).main(tables_dir, results_dir)
    verdicts = {}
    for line in out.getvalue().splitlines():
        head, _, detail = line.partition(": ")
        parts = head.split(None, 1)
        if len(parts) == 2 and parts[0] in ("PASS", "FAIL"):
            verdicts[parts[1]] = (parts[0] == "PASS", detail)
    failures = []
    for e in entries:
        ok, detail = verdicts.get(e, (False, "no result"))
        if ok and detail.startswith("ROWS_ONLY rows=0"):
            ok = False
        if not ok:
            failures.append({"check": "catalog_oracle", "entry": e, "detail": detail[:300]})
    return failures, verdicts
