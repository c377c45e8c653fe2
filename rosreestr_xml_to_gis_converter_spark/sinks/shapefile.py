"""ESRI Shapefile POLYGON writer/reader (public format spec; pure python).

Replaces the reference's pyshp sink (/root/reference/main.py:322-342,
`shapefile.Writer(POLYGON, cp1251)` + 18 typed fields + `.poly(rings)` /
`.record(...)` per contour).  Export is a DRIVER-SIDE final-mile job over
the engine's finished contour table: the writer buffers every record,
since the .shp header carries the whole layer's bbox and length; the
scalable sink remains parquet/Iceberg.

Format: ESRI Shapefile Technical Description (July 1998, public):
.shp geometry, .shx index, .dbf dBASE III attributes, .cpg codepage.
"""

from __future__ import annotations

import datetime
import struct
from typing import Iterable, Sequence

import numpy as np

# (name, type, length, decimals) — main.py:325-342 field list
REFERENCE_FIELDS = [
    ("CadNumber", "C", 20, 0),
    ("SnglUseCN", "C", 20, 0),
    ("NumOfCont", "C", 20, 0),
    ("Area", "N", 20, 2),
    ("Note", "C", 255, 0),
    ("Parcel_St", "C", 255, 0),
    ("Category", "C", 255, 0),
    ("ByDoc", "C", 255, 0),
    ("Owner", "C", 255, 0),
    ("OwnRightN", "C", 255, 0),
    ("Encumbr", "C", 255, 0),
    ("EncRightN", "C", 255, 0),
    ("Special", "C", 255, 0),
    ("DatOfCreat", "D", 8, 0),
    ("DateOfGet", "D", 8, 0),
    ("EstateObjs", "C", 255, 0),
    ("CadastCost", "C", 50, 0),
    ("Type", "C", 60, 0),
]

_POLYGON = 5


def _dbf_value(value, ftype: str, length: int, decimals: int, encoding: str) -> bytes:
    if ftype == "C":
        raw = ("" if value is None else str(value)).encode(encoding, errors="replace")
        return raw[:length].ljust(length, b" ")
    if ftype == "N":
        num = 0.0 if value in (None, "") else float(value)
        raw = f"{num:{length}.{decimals}f}".encode("ascii")
        if len(raw) > length:
            # never truncate from the left (drops sign / most-significant
            # digits silently, ADVICE r2) — a too-narrow field is a schema
            # bug the caller must see
            raise ValueError(
                f"numeric value {num!r} does not fit dbf field width {length}"
            )
        return raw.rjust(length, b" ")
    if ftype == "D":
        if isinstance(value, (datetime.date, datetime.datetime)):
            # not strftime: glibc's %Y does not zero-pad years below 1000,
            # and the date(1,1,1) default must still fill all 8 bytes or
            # every later field of the record shifts
            return f"{value.year:04d}{value.month:02d}{value.day:02d}".encode("ascii")
        if value:  # ISO yyyy-mm-dd string
            return str(value).replace("-", "")[:8].encode("ascii").ljust(8, b"0")
        return b"00010101"  # the reference's date(1,1,1) default (main.py:384-393)
    raise ValueError(f"unsupported dbf type {ftype}")


def write_shapefile(
    base_path: str,
    records: Iterable[tuple[Sequence[np.ndarray], Sequence]],
    fields: list[tuple[str, str, int, int]] = REFERENCE_FIELDS,
    encoding: str = "cp1251",
) -> int:
    """records: iterable of (rings, attrs); rings = list of (n,2) float64
    arrays in (x, y); attrs aligned with ``fields``.  Writes
    ``base_path``.shp/.shx/.dbf/.cpg, returns the record count."""
    shp_records: list[bytes] = []
    dbf_records: list[bytes] = []
    bbox = [np.inf, np.inf, -np.inf, -np.inf]
    for rings, attrs in records:
        pts = np.concatenate([np.asarray(r, dtype=np.float64) for r in rings])
        xmin, ymin = pts.min(axis=0)
        xmax, ymax = pts.max(axis=0)
        bbox = [
            min(bbox[0], xmin),
            min(bbox[1], ymin),
            max(bbox[2], xmax),
            max(bbox[3], ymax),
        ]
        parts = []
        offset = 0
        for r in rings:
            parts.append(offset)
            offset += len(r)
        content = struct.pack("<i4d2i", _POLYGON, xmin, ymin, xmax, ymax, len(rings), len(pts))
        content += struct.pack(f"<{len(parts)}i", *parts)
        content += pts.astype("<f8").tobytes()
        shp_records.append(content)
        dbf_records.append(
            b" "
            + b"".join(
                _dbf_value(v, t, ln, dec, encoding)
                for v, (_, t, ln, dec) in zip(attrs, fields)
            )
        )
    if not shp_records:
        bbox = [0.0, 0.0, 0.0, 0.0]

    def _main_header(total_words: int) -> bytes:
        return (
            struct.pack(">i5i i", 9994, 0, 0, 0, 0, 0, total_words)
            + struct.pack("<2i", 1000, _POLYGON)
            + struct.pack("<8d", bbox[0], bbox[1], bbox[2], bbox[3], 0, 0, 0, 0)
        )

    # .shp
    shp_len = 100 + sum(8 + len(c) for c in shp_records)
    with open(base_path + ".shp", "wb") as f:
        f.write(_main_header(shp_len // 2))
        for i, content in enumerate(shp_records):
            f.write(struct.pack(">2i", i + 1, len(content) // 2))
            f.write(content)
    # .shx
    with open(base_path + ".shx", "wb") as f:
        f.write(_main_header((100 + 8 * len(shp_records)) // 2))
        offset = 100
        for content in shp_records:
            f.write(struct.pack(">2i", offset // 2, len(content) // 2))
            offset += 8 + len(content)
    # .dbf (dBASE III)
    n = len(dbf_records)
    header_size = 32 + 32 * len(fields) + 1
    record_size = 1 + sum(ln for _, _, ln, _ in fields)
    today = datetime.date.today()
    with open(base_path + ".dbf", "wb") as f:
        f.write(
            struct.pack(
                "<4BIHH20x",
                0x03,
                today.year - 1900,
                today.month,
                today.day,
                n,
                header_size,
                record_size,
            )
        )
        for name, ftype, ln, dec in fields:
            f.write(
                struct.pack(
                    "<11sc4xBB14x", name.encode("ascii")[:11], ftype.encode("ascii"), ln, dec
                )
            )
        f.write(b"\x0d")
        for rec in dbf_records:
            f.write(rec)
        f.write(b"\x1a")
    with open(base_path + ".cpg", "w") as f:
        f.write("CP1251" if encoding == "cp1251" else encoding.upper())
    return n


def read_shapefile(
    base_path: str, encoding: str = "cp1251"
) -> list[tuple[list[np.ndarray], list]]:
    """Round-trip reader (test/QA aid): returns [(rings, attrs)]."""
    out_geoms: list[list[np.ndarray]] = []
    with open(base_path + ".shp", "rb") as f:
        data = f.read()
    pos = 100
    while pos < len(data):
        (_, content_words) = struct.unpack(">2i", data[pos : pos + 8])
        pos += 8
        content = data[pos : pos + content_words * 2]
        pos += content_words * 2
        shape_type = struct.unpack("<i", content[:4])[0]
        if shape_type != _POLYGON:
            out_geoms.append([])
            continue
        n_parts, n_points = struct.unpack("<2i", content[36:44])
        parts = list(struct.unpack(f"<{n_parts}i", content[44 : 44 + 4 * n_parts]))
        pts = np.frombuffer(
            content[44 + 4 * n_parts : 44 + 4 * n_parts + 16 * n_points], dtype="<f8"
        ).reshape(n_points, 2)
        bounds = parts + [n_points]
        out_geoms.append([pts[bounds[i] : bounds[i + 1]].copy() for i in range(n_parts)])
    # .dbf
    with open(base_path + ".dbf", "rb") as f:
        dbf = f.read()
    n, header_size, record_size = struct.unpack("<IHH", dbf[4:12])
    fields = []
    p = 32
    while dbf[p] != 0x0D:
        name = dbf[p : p + 11].split(b"\x00")[0].decode("ascii")
        ftype = chr(dbf[p + 11])
        ln = dbf[p + 16]
        fields.append((name, ftype, ln))
        p += 32
    out_attrs = []
    p = header_size
    for _ in range(n):
        rec = dbf[p : p + record_size]
        p += record_size
        vals = []
        q = 1
        for name, ftype, ln in fields:
            raw = rec[q : q + ln]
            q += ln
            if ftype == "C":
                vals.append(raw.decode(encoding, errors="replace").rstrip())
            elif ftype == "N":
                s = raw.strip()
                vals.append(float(s) if s else None)
            else:
                vals.append(raw.decode("ascii").strip())
        out_attrs.append(vals)
    return list(zip(out_geoms, out_attrs))
