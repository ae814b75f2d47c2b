#!/usr/bin/env python3
"""Self-test of the benchmark's output checkers.

    python3 perfbench/selftest.py

Each checker must accept real answers of the engine (captured from a
benchmark run into selftest_data/) and reject each deliberately
corrupted copy of them. Exits non-zero on the first checker that does
not.
"""
import copy
import json
import os
import struct
import sys
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import run  # noqa: E402

DATA = os.path.join(HERE, "selftest_data")
failures = []


def expect(name, errors, want_reject):
    ok = bool(errors) == want_reject
    verdict = "rejects" if errors else "accepts"
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {verdict}"
          + (f" ({errors[0]})" if errors else ""))
    if not ok:
        failures.append(name)


def png(width, height, rgba_rows, filters):
    """Encode RGBA rows with the given per-row filter types."""
    raw = bytearray()
    prev = bytes(width * 4)
    for row, f in zip(rgba_rows, filters):
        line = bytearray(row)
        if f == 1:
            line = bytearray((row[i] - (row[i - 4] if i >= 4 else 0)) & 0xFF
                             for i in range(len(row)))
        elif f == 2:
            line = bytearray((row[i] - prev[i]) & 0xFF for i in range(len(row)))
        elif f == 3:
            line = bytearray(
                (row[i] - (((row[i - 4] if i >= 4 else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(len(row)))
        elif f == 4:
            out = bytearray()
            for i in range(len(row)):
                a = row[i - 4] if i >= 4 else 0
                b = prev[i]
                c = prev[i - 4] if i >= 4 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out.append((row[i] - pr) & 0xFF)
            line = out
        raw += bytes([f]) + line
        prev = row

    def chunk(t, body):
        return struct.pack(">I", len(body)) + t + body + struct.pack(
            ">I", zlib.crc32(t + body) & 0xFFFFFFFF)
    return (b"\x89PNG\r\n\x1a\n" +
            chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 6, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def test_tile_reply():
    expect("tile reply: 200 image/png 256x256",
           checks.check_tile_reply(200, "image/png", 256, 256), False)
    expect("tile reply: HTTP 500",
           checks.check_tile_reply(500, "image/png", 256, 256), True)
    expect("tile reply: JSON body",
           checks.check_tile_reply(200, "application/json", -1, -1), True)
    expect("tile reply: 256x128 PNG",
           checks.check_tile_reply(200, "image/png", 256, 128), True)


def test_pixels():
    with open(os.path.join(DATA, "tile_served.png"), "rb") as f:
        served = f.read()
    with open(os.path.join(DATA, "tile_ref.png"), "rb") as f:
        ref = f.read()
    expect("pixels: engine tile vs Spark-path render",
           checks.check_pixels(served, ref), False)
    # the decoder reproduces the pixels under every filter type
    w, h, pix = checks.decode_png(ref)
    rows = [pix[y * w * 4:(y + 1) * w * 4] for y in range(h)]
    refiltered = png(w, h, rows, [(y % 5) for y in range(h)])
    expect("pixels: same pixels, other PNG filters",
           checks.check_pixels(refiltered, ref), False)
    bad_rows = list(rows)
    bad_rows[100] = bad_rows[100][:400] + bytes(
        (b + 1) & 0xFF for b in bad_rows[100][400:404]) + bad_rows[100][404:]
    expect("pixels: one pixel changed",
           checks.check_pixels(png(w, h, bad_rows, [0] * h), ref), True)
    expect("pixels: rows shifted by one",
           checks.check_pixels(png(w, h, rows[1:] + rows[:1], [0] * h), ref),
           True)
    expect("pixels: truncated PNG",
           checks.check_pixels(served[:len(served) // 2], ref), True)
    small = png(128, 128, [r[:512] for r in rows[:128]], [0] * 128)
    expect("pixels: 128x128 tile", checks.check_pixels(small, ref), True)


def test_ts():
    cube = checks.Cube(run.GRID["width"], run.GRID["height"],
                       run.GRID["lon_min"], run.GRID["lat_min"],
                       run.GRID["res"], run.VARIABLES, run.NUM_TIMES,
                       run.NAN_EVERY, run.DATES)
    with open(os.path.join(DATA, "ts_answers.jsonl")) as f:
        recs = [json.loads(ln) for ln in f]

    def mutate(rec, fn):
        r = copy.deepcopy(rec)
        body = json.loads(r["response"])
        fn(body["results"])
        r["response"] = json.dumps(body)
        return r

    def first(results):
        return results[0] if isinstance(results[0], dict) else results[0][0]

    for rec in recs:
        k = rec["kind"]
        expect(f"{k}: engine answer", checks.check_ts(cube, rec), False)

        def bump_total(res):
            first(res)["result"]["totalCount"] += 1

        def bump_valid(res):
            first(res)["result"]["validCount"] -= 1

        def nudge_avg(res):
            r = first(res)["result"]
            r["average"] = r["average"] * (1 + 1e-6) if r["average"] else 1.0

        def drop_row(res):
            (res if isinstance(res[0], dict) else res[0]).pop()

        def wrong_date(res):
            first(res)["date"] = "2017-01-09T00:00:00Z"

        for name, fn in [("totalCount+1", bump_total),
                         ("validCount-1", bump_valid),
                         ("average*(1+1e-6)", nudge_avg),
                         ("a row dropped", drop_row),
                         ("wrong date", wrong_date)]:
            expect(f"{k}: {name}", checks.check_ts(cube, mutate(rec, fn)), True)
        r = copy.deepcopy(rec)
        r["status"] = 500
        expect(f"{k}: HTTP 500", checks.check_ts(cube, r), True)
        if k in ("ts.geometries", "ts.places"):
            expect(f"{k}: series of two geometries swapped",
                   checks.check_ts(cube, mutate(
                       rec, lambda res: res.insert(0, res.pop(1)))), True)


if __name__ == "__main__":
    test_tile_reply()
    test_pixels()
    test_ts()
    if failures:
        print(f"{len(failures)} checker self-test(s) failed: {failures}")
        sys.exit(1)
    print("all checkers accept the engine's answers and reject corrupted ones")
