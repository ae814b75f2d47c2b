"""Output checkers of the benchmark.

Each checker takes what the server answered and returns a list of
error strings (empty = correct). `selftest.py` feeds each one a
deliberately corrupted answer and asserts that it is rejected.

The analytics answers are checked against values computed here, in
numpy, from the closed-form cell formula of `Cube.synthetic`:

    v_i(t, y, x) = sin(id * (0.1 + i)) * 50 + 50,  id = t*W*H + y*W + x
    NaN where (y*W + x) % nan_every == 0

and from the zonal operator's documented semantics (`TimeSeries.zonal`):
`totalCount` counts the cells the polygon touches with positive area,
`validCount` the non-NaN ones among them, and `average` is the mean of
the non-NaN cells of the polygon's bounding-box window.
"""
import json
import math
import struct
import zlib
from urllib.parse import parse_qs, urlparse

import numpy as np

# relative tolerance on `average`: the engine sums in a different order
# and its sin() may differ from numpy's in the last bit
AVG_RTOL = 1e-9


class Cube:
    """The benchmark cube's geometry and its values, computed once."""

    def __init__(self, width, height, lon_min, lat_min, res, variables,
                 num_times, nan_every, dates):
        self.w, self.h = width, height
        self.lon_min, self.lat_min, self.res = lon_min, lat_min, res
        self.lat_max = lat_min + res * height
        self.lon_max = lon_min + res * width
        self.variables = list(variables)
        self.dates = list(dates)
        cell = np.arange(width * height, dtype=np.int64).reshape(height, width)
        self.nan = (cell % nan_every) == 0
        self.values = {}
        for i, v in enumerate(self.variables):
            arr = np.empty((num_times, height, width))
            for t in range(num_times):
                ids = (cell + t * width * height).astype(np.float64)
                a = np.sin(ids * (0.1 + i)) * 50 + 50
                a[self.nan] = np.nan
                arr[t] = a
            self.values[v] = arr

    # -- point ---------------------------------------------------------
    def nearest(self, lon, lat):
        def rnd(x):  # java Math.round
            return math.floor(x + 0.5)
        x = min(self.w - 1, max(0, rnd((lon - self.lon_min) / self.res - 0.5)))
        from_min = rnd((lat - self.lat_min) / self.res - 0.5)
        y = min(self.h - 1, max(0, self.h - 1 - from_min))
        return x, y

    def point_series(self, var, lon, lat):
        x, y = self.nearest(lon, lat)
        out = []
        for t in range(len(self.dates)):
            val = self.values[var][t, y, x]
            valid = not np.isnan(val)
            out.append((1, 1 if valid else 0, float(val) if valid else None))
        return out

    # -- zonal ---------------------------------------------------------
    def zonal_series(self, var, ring):
        """ring: [(lon, lat), ...] of a convex polygon (closed or not)."""
        pts = np.array(ring, dtype=np.float64)
        if len(pts) > 1 and np.all(pts[0] == pts[-1]):
            pts = pts[:-1]
        gx0, gy0 = pts[:, 0].min(), pts[:, 1].min()
        gx1, gy1 = pts[:, 0].max(), pts[:, 1].max()
        ix0, iy0 = max(gx0, self.lon_min), max(gy0, self.lat_min)
        ix1, iy1 = min(gx1, self.lon_max), min(gy1, self.lat_max)
        res = (self.lat_max - self.lat_min) / self.h

        def clamp(v, lo, hi):
            return max(lo, min(hi, v))
        x1 = clamp(math.floor((ix0 - self.lon_min) / res), 0, self.w - 1)
        x2 = clamp(math.ceil((ix1 - self.lon_min) / res) + 1, 0, self.w - 1)
        y1 = clamp(math.floor((self.lat_max - iy1) / res), 0, self.h - 1)
        y2 = clamp(math.ceil((self.lat_max - iy0) / res) + 1, 0, self.h - 1)
        sub_w, sub_h = x2 - x1, y2 - y1
        sub_lon_min = self.lon_min + x1 * res
        sub_lat_min = self.lat_max - y2 * res
        mask_lat_max = sub_lat_min + res * sub_h
        mx = np.arange(sub_w)
        my = np.arange(sub_h)
        cx0 = sub_lon_min + res * mx                    # cell west edges
        ytop = mask_lat_max - res * my                  # cell north edges
        X0 = np.broadcast_to(cx0[None, :], (sub_h, sub_w))
        YT = np.broadcast_to(ytop[:, None], (sub_h, sub_w))
        mask = convex_overlaps_cells(pts, X0, X0 + res, YT - res, YT)
        total = int(mask.sum())
        out = []
        for t in range(len(self.dates)):
            win = self.values[var][t, y1:y2, x1:x2]
            valid = ~np.isnan(win)
            if valid.sum() == 0:
                out.append((total, 0, None))
            else:
                out.append((total, int((valid & mask).sum()),
                            float(win[valid].mean())))
        return out


def convex_overlaps_cells(pts, xmin, xmax, ymin, ymax):
    """Cells [xmin,xmax]x[ymin,ymax] whose interior overlaps the convex
    polygon's interior (separating-axis test, strict)."""
    n = len(pts)
    ok = (xmax > pts[:, 0].min()) & (xmin < pts[:, 0].max()) & \
         (ymax > pts[:, 1].min()) & (ymin < pts[:, 1].max())
    cx, cy = (xmin + xmax) / 2, (ymin + ymax) / 2
    hx, hy = (xmax - xmin) / 2, (ymax - ymin) / 2
    for k in range(n):
        ax, ay = pts[k]
        bx, by = pts[(k + 1) % n]
        nx, ny = -(by - ay), bx - ax          # edge normal
        proj = pts[:, 0] * nx + pts[:, 1] * ny
        c = cx * nx + cy * ny
        r = hx * abs(nx) + hy * abs(ny)
        ok &= (c + r > proj.min()) & (c - r < proj.max())
    return ok


def _geojson_ring(geom):
    if geom.get("type") != "Polygon":
        raise ValueError("benchmark polygons are GeoJSON Polygons")
    return [tuple(p) for p in geom["coordinates"][0]]


def expected_ts(cube, rec):
    """Expected per-date rows (or list of them, for fan-out routes) for
    one logged analytics request."""
    u = urlparse(rec["path"])
    var = u.path.split("/")[3]
    kind = rec["kind"]
    if kind == "ts.point":
        q = parse_qs(u.query)
        return cube.point_series(var, float(q["lon"][0]), float(q["lat"][0]))
    body = json.loads(rec["body"])
    if kind == "ts.geometry":
        return cube.zonal_series(var, _geojson_ring(body))
    if kind == "ts.geometries":
        geoms = body["geometries"]
    elif kind == "ts.places":
        geoms = [f["geometry"] for f in body["features"]]
    else:
        raise ValueError(f"unknown request kind {kind}")
    return [cube.zonal_series(var, _geojson_ring(g)) for g in geoms]


def _compare_series(cube, got, exp, where):
    errs = []
    if not isinstance(got, list) or len(got) != len(exp):
        return [f"{where}: {len(got) if isinstance(got, list) else got!r} "
                f"rows, expected {len(exp)}"]
    for row, date, (tc, vc, avg) in zip(got, cube.dates, exp):
        r = row.get("result", {})
        if row.get("date") != date:
            errs.append(f"{where}: date {row.get('date')} != {date}")
        if r.get("totalCount") != tc:
            errs.append(f"{where} {date}: totalCount {r.get('totalCount')} != {tc}")
        if r.get("validCount") != vc:
            errs.append(f"{where} {date}: validCount {r.get('validCount')} != {vc}")
        a = r.get("average")
        if (a is None) != (avg is None) or (
                avg is not None and not math.isclose(a, avg, rel_tol=AVG_RTOL,
                                                     abs_tol=AVG_RTOL)):
            errs.append(f"{where} {date}: average {a} != {avg}")
    return errs


def check_ts(cube, rec):
    """One logged analytics request + answer → list of errors."""
    where = f"{rec['kind']} {rec['path']}"
    if rec.get("status") != 200:
        return [f"{where}: HTTP {rec.get('status')}"]
    try:
        got = json.loads(rec["response"])["results"]
    except (ValueError, KeyError, TypeError) as e:
        return [f"{where}: unreadable answer ({e})"]
    exp = expected_ts(cube, rec)
    if rec["kind"] in ("ts.point", "ts.geometry"):
        return _compare_series(cube, got, exp, where)
    if not isinstance(got, list) or len(got) != len(exp):
        return [f"{where}: {len(got)} series, expected {len(exp)}"]
    errs = []
    for i, (g, e) in enumerate(zip(got, exp)):
        errs += _compare_series(cube, g, e, f"{where} [{i}]")
    return errs


def check_tile_reply(status, content_type, png_w, png_h):
    """Every tile reply: HTTP 200, image/png, a 256x256 PNG."""
    errs = []
    if status != 200:
        errs.append(f"HTTP {status}")
    if content_type != "image/png":
        errs.append(f"content type {content_type!r}")
    if (png_w, png_h) != (256, 256):
        errs.append(f"PNG size {png_w}x{png_h}")
    return errs


def decode_png(data):
    """8-bit RGB/RGBA, non-interlaced PNG → (width, height, bytes of
    RGBA rows). Raises ValueError on anything else or on corruption."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, hdr = 8, [], None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r}")
        if ctype == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    w, h, depth, color, _, _, interlace = hdr
    if depth != 8 or color not in (2, 6) or interlace:
        raise ValueError(f"unsupported PNG depth={depth} color={color}")
    bpp = 4 if color == 6 else 3
    raw = zlib.decompress(b"".join(idat))
    stride = w * bpp
    out = bytearray(h * stride)
    prev = bytearray(stride)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        if f == 1:
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter {f}")
        out[y * stride:(y + 1) * stride] = line
        prev = line
    if bpp == 3:
        rgba = bytearray()
        for i in range(0, len(out), 3):
            rgba += out[i:i + 3] + b"\xff"
        out = rgba
    return w, h, bytes(out)


def check_pixels(served, reference):
    """A served tile against the same window rendered through the Spark
    path: both must decode to 256x256 with identical pixels."""
    if served == reference and served[:8] == b"\x89PNG\r\n\x1a\n" and \
            struct.unpack(">II", served[16:24]) == (256, 256):
        return []  # same encoder, same pixels: identical bytes
    try:
        ws, hs, ps = decode_png(served)
        wr, hr, pr = decode_png(reference)
    except (ValueError, zlib.error, struct.error, TypeError) as e:
        return [f"undecodable PNG ({e})"]
    if (ws, hs) != (256, 256) or (wr, hr) != (256, 256):
        return [f"sizes {ws}x{hs} vs {wr}x{hr}"]
    diff = sum(1 for i in range(0, len(ps), 4) if ps[i:i + 4] != pr[i:i + 4])
    return [f"{diff} of {ws * hs} pixels differ"] if diff else []
