#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify
output against the DuckDB oracle and diff values column-by-column.

Usage: python3 tools/check_parity.py [sfDir] [outDir]
(run `sbt "runMain graft.Verify <sfDir> <outDir>"` first)
"""
import json
import math
import struct
import sys
import wave
import zlib
from decimal import Decimal, ROUND_HALF_UP
from io import BytesIO
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# --- independent mm decoders (r15, VERDICT r14 #7) ---------------------
# These share NO code with the engine: the WAVE path goes through
# Python's stdlib `wave` module, PGM/GFV0 are hand parsers written from
# the public format specs, and PNG is un-filtered with zlib per the PNG
# spec. The engine dumps its media tables' exact payload bytes as
# sidecars (media_payloads.parquet / media_png.parquet); we re-decode
# those bytes here and diff the feature rows the engine produced.

SIDECAR_ROOT = Path("/tmp/graft_oracle_sidecars")


def _checksum(p):
    # the engine's rolling checksum runs over SIGNED bytes (JVM Byte)
    c = 0
    for b in p:
        c = (c * 131 + (b if b < 128 else b - 256)) & 0xFFFFFFFF
    return c


def _rint4(x):
    # Java math.rint is round-half-even, same as Python round()
    return round(x * 10000) / 10000


def _decode_pgm(p):
    assert p[0:2] == b"P5", "not a P5 PGM"
    i = 2
    vals = []
    while len(vals) < 3:
        while p[i : i + 1].isspace():
            i += 1
        j = i
        while p[j : j + 1].isdigit():
            j += 1
        vals.append(int(p[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxv = vals
    plane = p[i : i + w * h]
    assert len(plane) == w * h, "truncated PGM"
    return w, h, plane, maxv


def _decode_gfv0(p):
    assert p[0:4] == b"GFV0", "not GFV0"
    nf, w, h = struct.unpack(">HHH", p[4:10])
    plane = p[10 : 10 + nf * w * h]
    assert len(plane) == nf * w * h, "truncated GFV0"
    return nf, w, h, plane


def _decode_png(p):
    # minimal grayscale-8 PNG reader: chunk walk, zlib inflate,
    # per-scanline un-filter (all five filter types), bpp=1
    assert p[0:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    i, w, h, depth, ctype, idat = 8, None, None, None, None, b""
    while i < len(p):
        (ln,) = struct.unpack(">I", p[i : i + 4])
        typ = p[i + 4 : i + 8]
        data = p[i + 8 : i + 8 + ln]
        if typ == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", data[0:10])
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        i += 12 + ln
    assert depth == 8 and ctype == 0, f"not grayscale-8 ({depth},{ctype})"
    raw = zlib.decompress(idat)
    out = bytearray()
    stride = w
    for y in range(h):
        row = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        filt = raw[y * (stride + 1)]
        prior = out[(y - 1) * stride : y * stride] if y else bytes(stride)
        for x in range(stride):
            a = row[x - 1] if x else 0
            b = prior[x]
            c = prior[x - 1] if (x and y) else 0
            if filt == 1:
                row[x] = (row[x] + a) & 0xFF
            elif filt == 2:
                row[x] = (row[x] + b) & 0xFF
            elif filt == 3:
                row[x] = (row[x] + (a + b) // 2) & 0xFF
            elif filt == 4:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (row[x] + pr) & 0xFF
        out += row
    return w, h, bytes(out)


def _jpeg_dims(p):
    # from-spec SOF scan (ITU T.81 Annex B, r16 / VERDICT r15 #7): walk
    # marker segments from SOI and read height/width out of the first
    # SOFn frame header. Header-only — no entropy/pixel decode, so the
    # declared imageio codec boundary (mean luma) is not crossed.
    assert p[0:2] == b"\xff\xd8", "not a JPEG (no SOI)"
    i = 2
    while i + 1 < len(p):
        if p[i] != 0xFF:  # stray byte outside a segment
            i += 1
            continue
        m = p[i + 1]
        if m == 0xFF:  # fill byte
            i += 1
            continue
        if m == 0x01 or 0xD0 <= m <= 0xD9:  # standalone markers
            i += 2
            continue
        (ln,) = struct.unpack(">H", p[i + 2 : i + 4])
        if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):  # SOFn
            h, w = struct.unpack(">HH", p[i + 5 : i + 9])
            return w, h
        if m == 0xDA:  # SOS: entropy data follows; SOF must precede it
            break
        i += 2 + ln
    raise AssertionError("no SOF marker before SOS")


def _expected_jpeg_geometry(rows):
    # everything in mm_jpeg_features EXCEPT the codec-decoded mean:
    # byte length and rolling checksum come straight off the payload,
    # width/height from the SOF header above
    return [
        (media_id, kind, len(p), _checksum(p), *_jpeg_dims(p))
        for media_id, kind, p in rows
    ]


def _expected_binary_features(rows):
    exp = []
    for media_id, kind, p in rows:
        if kind == "image":
            w, h, plane, maxv = _decode_pgm(p)
            mean = sum(plane) / (w * h) / maxv
        elif kind == "audio":
            wf = wave.open(BytesIO(bytes(p)))
            assert wf.getsampwidth() == 1 and wf.getnchannels() == 1
            samples = wf.readframes(wf.getnframes())
            n = len(samples)
            w, h = n, 1
            mean = 0.0 if n == 0 else sum(abs(s - 128) for s in samples) / n / 128.0
        else:
            nf, fw, fh, plane = _decode_gfv0(p)
            w, h = fw, fh
            mean = sum(plane) / (nf * fw * fh) / 255.0
        exp.append((media_id, kind, len(p), _checksum(p), w, h, _rint4(mean)))
    return exp


def _expected_audio_features(rows):
    exp = []
    for media_id, kind, p in rows:
        if kind != "audio":
            continue
        wf = wave.open(BytesIO(bytes(p)))
        rate = wf.getframerate()
        samples = wf.readframes(wf.getnframes())
        n = len(samples)
        xs = [(s - 128) / 128.0 for s in samples]
        sum_sq = 0.0
        for x in xs:  # same accumulation order as the engine's scan
            sum_sq += x * x
        flips = sum(
            1 for i in range(1, n) if (xs[i] >= 0) != (xs[i - 1] >= 0)
        )
        exp.append(
            (
                media_id,
                n,
                rate,
                0.0 if rate == 0 else n / rate,
                0.0 if n == 0 else math.sqrt(sum_sq / n),
                0.0 if n <= 1 else flips / (n - 1),
                max((abs(x) for x in xs), default=0.0),
            )
        )
    return exp


def _expected_png_features(rows):
    exp = []
    for media_id, kind, p in rows:
        w, h, plane = _decode_png(p)
        mean = sum(plane) / (w * h) / 255.0
        exp.append((media_id, kind, len(p), _checksum(p), w, h, _rint4(mean)))
    return exp


def _expected_frame_sample(rows, stride=10):
    exp = []
    for media_id, kind, p in rows:
        if kind != "video":
            continue
        nf, _, _, _ = _decode_gfv0(p)
        for pos, frame in enumerate(range(0, nf, stride)):
            exp.append((media_id, nf, pos, frame))
    return exp


def _expected_resize_plan(rows, tw=224, th=224):
    exp = []
    for media_id, kind, p in rows:
        if kind != "image":
            continue
        w, h, _, _ = _decode_pgm(p)
        # Spark round(x, 4) = HALF_UP over the double's shortest
        # decimal representation (BigDecimal.valueOf)
        scale = float(
            Decimal(repr(min(tw / w, th / h))).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )
        exp.append((media_id, w, h, scale, math.floor(w * scale), math.floor(h * scale)))
    return exp


# mm key -> (check name, expected-rows decoder, engine columns to
# EXCLUDE — the jpeg geometry check diffs every non-codec column and
# leaves mean_intensity at the declared imageio boundary). Which payload
# file feeds which key is graft.Sidecars.ToolRead, written by Verify to
# <outDir>/tool_read.json for the keys it ran.
DECODERS = {
    "mm_binary_features": ("mm_binary_features", _expected_binary_features, set()),
    "mm_audio_features": ("mm_audio_features", _expected_audio_features, set()),
    "mm_frame_sample": ("mm_frame_sample", _expected_frame_sample, set()),
    "mm_resize_plan": ("mm_resize_plan", _expected_resize_plan, set()),
    "mm_png_features": ("mm_png_features", _expected_png_features, set()),
    "mm_jpeg_features": ("mm_jpeg_features_geometry", _expected_jpeg_geometry,
                         {"mean_intensity"}),
}


def _read_payloads(name):
    t = pq.read_table(SIDECAR_ROOT / name)
    cols = {c: t.column(c).to_pylist() for c in ("media_id", "kind", "payload")}
    return sorted(
        zip(cols["media_id"], cols["kind"], cols["payload"]), key=lambda r: r[0]
    )


def mm_independent_checks(out_dir):
    """Re-decode the engine's payload sidecars with the independent
    parsers above and diff its mm feature outputs row-for-row, for every
    (payload file, mm key) pair Verify listed in tool_read.json.
    Returns (n_pass, n_fail); a listed key whose payload file, decoder
    or output is missing is a FAIL naming the key."""
    listing = out_dir / "tool_read.json"
    if not listing.exists():
        print(f"FAIL mm_independent: no {listing} (re-run graft.Verify)")
        return 0, 1
    n_pass = n_fail = 0
    for fname, keys in sorted(json.loads(listing.read_text()).items()):
        if not (SIDECAR_ROOT / fname).exists():
            for key in keys:
                print(f"FAIL mm_independent:{key}: payload sidecar {SIDECAR_ROOT / fname} is missing")
            n_fail += len(keys)
            continue
        rows = _read_payloads(fname)
        for key in keys:
            pdir = out_dir / key
            if key not in DECODERS:
                print(f"FAIL mm_independent:{key}: no independent decoder for {fname}")
                n_fail += 1
                continue
            if not pdir.exists():
                print(f"FAIL mm_independent:{key}: no spark output at {pdir}")
                n_fail += 1
                continue
            name, expected, drop_cols = DECODERS[key]
            tbl = pq.read_table(pdir)
            cols = [c for c in tbl.column_names if c not in drop_cols]
            got = canon(zip(*[tbl.column(c).to_pylist() for c in cols]))
            exp = canon(expected(rows))
            if got == exp:
                print(f"PASS mm_independent:{name} ({len(got)} rows)")
                n_pass += 1
            else:
                dg = [r for r in got if r not in exp][:2]
                de = [r for r in exp if r not in got][:2]
                print(
                    f"FAIL mm_independent:{name}: {len(got)} vs {len(exp)} rows; "
                    f"engine-only={dg} independent-only={de}"
                )
                n_fail += 1
    return n_pass, n_fail


def canon(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(round(v, 6))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        # ScaleGen dirs hold Spark-written DIRECTORY tables; the driver's
        # testdata holds single files — accept both
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    # Stale-sidecar refusal (r14): graft.Verify stamps the dataset
    # fingerprint into its outDir AND the shared sidecar root. If a
    # LATER Verify at different data overwrote the sidecars, the oracle
    # would fail with mystery value diffs on every sidecar-replayed key
    # — name the condition instead.
    out_fp_file = out_dir / "data_fingerprint"
    side_fp_file = SIDECAR_ROOT / "data_fingerprint"
    if out_fp_file.exists() and side_fp_file.exists():
        out_fp, side_fp = out_fp_file.read_text(), side_fp_file.read_text()
        if out_fp != side_fp:
            print(
                f"STALE_SIDECARS: sidecar root was re-written for a different "
                f"dataset (fp {side_fp}) than this verify outDir (fp {out_fp}); "
                f"re-run `sbt \"runMain graft.Verify {sf_dir} {out_dir}\"` to "
                f"restore matching sidecars before comparing"
            )
            sys.exit(2)
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        pdir = out_dir / name
        if not pdir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got_tbl = pq.read_table(pdir)
            got_cols = sorted(got_tbl.column_names)
            got = canon(zip(*[got_tbl.column(c).to_pylist() for c in got_cols])) if got_tbl.num_rows else []
            res = con.sql(sql)
            exp_cols_all = res.columns
            order = sorted(range(len(exp_cols_all)), key=lambda i: exp_cols_all[i])
            exp_cols = [exp_cols_all[i] for i in order]
            rows = res.fetchall()
            exp = canon([tuple(r[i] for i in order) for r in rows])
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            n_fail += 1
            continue
        if got_cols != exp_cols:
            print(f"FAIL {name}: columns {got_cols} != {exp_cols}")
            n_fail += 1
        elif got != exp:
            diff_g = [r for r in got if r not in exp][:3]
            diff_e = [r for r in exp if r not in got][:3]
            print(f"FAIL {name}: {len(got)} vs {len(exp)} rows; spark-only={diff_g} oracle-only={diff_e}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    # independent mm value checks (r15): re-decode the engine's payload
    # sidecars with parsers that share no code with it and diff the
    # feature rows — upgrades the mm rows-only keys to checked
    mm_pass, mm_fail = mm_independent_checks(out_dir)
    n_pass += mm_pass
    n_fail += mm_fail
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
