"""Legacy binary Excel (.xls) source + target — BIFF8 in a CFB
container, pure stdlib.

The reference reads and writes .xls through Apache POI's
WorkbookFactory (zulia-data
``SpreadsheetSourceFactory.java:95`` dispatches SpreadsheetType.XLS
to ExcelSource; ``SpreadsheetType.java:46`` maps the extension).
This environment ships no POI/xlrd, so the codec is implemented
directly from the public file-format specs:

- container: MS-CFB (Compound File Binary — the OLE2 "structured
  storage" of 512-byte sectors, FAT/miniFAT chains, and a directory
  of streams),
- payload: MS-XLS BIFF8 records in the ``Workbook`` stream (SST
  shared strings with CONTINUE spill, RK/MULRK packed numbers,
  LABELSST/LABEL cells, BOOLERR, FORMULA cached results,
  FORMAT/XF number-format indirection for date detection, 1904
  date-system flag).

Reader semantics mirror ``sources/xlsx.read_xlsx`` cell for cell
(DefaultExcelCellHandler behavior): date-formatted numerics render
as ISO strings, integral doubles collapse to ints, per-column type
unification via the shared ``rows_to_dataframe``. The writer mirrors
``write_xlsx``'s typed handlers: booleans as BOOLERR, numerics as
NUMBER, dates/arrays/strings as SST text — so an engine round-trip
through either extension produces the same DataFrame.

Like the .xlsx path, parsing happens on the driver (a .xls is one
sequential stream, exactly like POI's reader) and
``createDataFrame`` distributes rows; the scale path for big data is
parquet/delimited, not Excel.
"""

from __future__ import annotations

import struct
from typing import TYPE_CHECKING

from zuliasearch_spark.sources.xlsx import (
    _BUILTIN_DATE_FMT_IDS,
    _DATE_TOKEN_RE,
    _serial_to_iso,
    rows_to_dataframe,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_ENDOFCHAIN = 0xFFFFFFFE
_FREESECT = 0xFFFFFFFF
_MAX_RECORD_DATA = 8224  # BIFF8 record payload cap (MS-XLS 2.1.4)


# ---------------------------------------------------------------- CFB read


def _cfb_streams(data: bytes) -> dict[str, bytes]:
    """Top-level stream name → bytes of a v3 compound file (the only
    layout Excel 97-2003 writes)."""
    if data[:8] != _CFB_MAGIC:
        raise ValueError("not a compound (.xls) file: bad CFB signature")
    sector_shift = struct.unpack_from("<H", data, 30)[0]
    mini_shift = struct.unpack_from("<H", data, 32)[0]
    ssz, mssz = 1 << sector_shift, 1 << mini_shift
    first_dir = struct.unpack_from("<I", data, 48)[0]
    mini_cutoff = struct.unpack_from("<I", data, 56)[0]
    first_minifat, n_minifat = struct.unpack_from("<II", data, 60)
    first_difat, n_difat = struct.unpack_from("<II", data, 68)

    def sector(n: int) -> bytes:
        off = (n + 1) * ssz
        return data[off : off + ssz]

    # FAT sector list: 109 header DIFAT entries + chained DIFAT sectors
    fat_sectors = [
        s for (s,) in struct.iter_unpack("<I", data[76:512]) if s not in (_FREESECT, _ENDOFCHAIN)
    ]
    d = first_difat
    for _ in range(n_difat):
        if d in (_ENDOFCHAIN, _FREESECT):
            break
        body = sector(d)
        entries = struct.unpack_from(f"<{ssz // 4}I", body)
        fat_sectors.extend(s for s in entries[:-1] if s not in (_FREESECT, _ENDOFCHAIN))
        d = entries[-1]
    fat: list[int] = []
    for s in fat_sectors:
        fat.extend(struct.unpack_from(f"<{ssz // 4}I", sector(s)))

    def chain(start: int) -> bytes:
        out, cur, seen = [], start, 0
        while cur not in (_ENDOFCHAIN, _FREESECT) and seen <= len(fat):
            out.append(sector(cur))
            cur = fat[cur]
            seen += 1
        return b"".join(out)

    directory = chain(first_dir)
    entries = []
    for off in range(0, len(directory) - 127, 128):
        name_len = struct.unpack_from("<H", directory, off + 64)[0]
        if name_len < 2:
            continue
        name = directory[off : off + name_len - 2].decode("utf-16-le", "replace")
        etype = directory[off + 66]
        start = struct.unpack_from("<I", directory, off + 116)[0]
        size = struct.unpack_from("<Q", directory, off + 120)[0] & 0xFFFFFFFF
        entries.append((name, etype, start, size))

    root = next((e for e in entries if e[1] == 5), None)
    mini_container = chain(root[2]) if root is not None and root[2] != _ENDOFCHAIN else b""
    minifat: list[int] = []
    m = first_minifat
    for _ in range(n_minifat):
        if m in (_ENDOFCHAIN, _FREESECT):
            break
        minifat.extend(struct.unpack_from(f"<{ssz // 4}I", sector(m)))
        m = fat[m]

    def mini_chain(start: int) -> bytes:
        out, cur, seen = [], start, 0
        while cur not in (_ENDOFCHAIN, _FREESECT) and seen <= len(minifat):
            out.append(mini_container[cur * mssz : (cur + 1) * mssz])
            cur = minifat[cur]
            seen += 1
        return b"".join(out)

    streams: dict[str, bytes] = {}
    for name, etype, start, size in entries:
        if etype != 2:  # stream objects only
            continue
        raw = mini_chain(start) if size < mini_cutoff else chain(start)
        streams[name] = raw[:size]
    return streams


def _workbook_stream(path: str) -> bytes:
    with open(path, "rb") as fh:
        data = fh.read()
    streams = _cfb_streams(data)
    for name in ("Workbook", "Book"):
        if name in streams:
            return streams[name]
    raise ValueError(f"{path!r}: no Workbook stream in compound file")


# --------------------------------------------------------------- BIFF read


def _records(stream: bytes):
    """Yield (record_type, [data_segments]) with CONTINUE (0x003C)
    segments attached to their owner record — the spill mechanism
    BIFF8 uses for records past the 8224-byte payload cap."""
    pos, n = 0, len(stream)
    cur_type, segs = None, []
    while pos + 4 <= n:
        rtype, rlen = struct.unpack_from("<HH", stream, pos)
        body = stream[pos + 4 : pos + 4 + rlen]
        pos += 4 + rlen
        if rtype == 0x003C and cur_type is not None:
            segs.append(body)
            continue
        if cur_type is not None:
            yield cur_type, segs
        cur_type, segs = rtype, [body]
    if cur_type is not None:
        yield cur_type, segs


class _SegReader:
    """Cursor over a record's CONTINUE segments. Fixed-width fields
    read across boundaries transparently; character arrays honor the
    BIFF8 rule that a spilled string restarts each segment with its
    own compression flag byte."""

    def __init__(self, segs: list[bytes]):
        self.segs = segs
        self.i = 0
        self.off = 0

    def _avail(self) -> int:
        return len(self.segs[self.i]) - self.off

    def eof(self) -> bool:
        while self.i < len(self.segs) and self._avail() == 0:
            self.i += 1
            self.off = 0
        return self.i >= len(self.segs)

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n > 0:
            if self.eof():
                raise ValueError("truncated BIFF record")
            take = min(n, self._avail())
            seg = self.segs[self.i]
            out += seg[self.off : self.off + take]
            self.off += take
            n -= take
        return bytes(out)

    def u8(self) -> int:
        return self.read(1)[0]

    def u16(self) -> int:
        return struct.unpack("<H", self.read(2))[0]

    def u32(self) -> int:
        return struct.unpack("<I", self.read(4))[0]

    def chars(self, cch: int, compressed: bool) -> str:
        """cch characters, possibly spanning segments. MS-XLS
        2.5.293: every CONTINUE segment that carries part of a split
        character array begins with a fresh fHighByte flag byte —
        including when the split lands exactly on a character
        boundary."""
        out: list[str] = []
        while cch > 0:
            if self.i >= len(self.segs):
                raise ValueError("truncated string in BIFF record")
            avail = self._avail()
            width = 1 if compressed else 2
            if avail < width:
                # boundary: the next segment restates the flag byte
                # (any leftover sub-character bytes cannot occur in a
                # spec-conformant file)
                self.i += 1
                self.off = 0
                if self.i >= len(self.segs) or not self.segs[self.i]:
                    raise ValueError("truncated string in BIFF record")
                compressed = not (self.segs[self.i][self.off] & 0x01)
                self.off += 1
                continue
            fit = min(cch, avail // width)
            seg = self.segs[self.i]
            raw = seg[self.off : self.off + fit * width]
            self.off += fit * width
            out.append(raw.decode("latin-1" if compressed else "utf-16-le"))
            cch -= fit
        return "".join(out)

    def skip(self, n: int) -> None:
        self.read(n)


def _unistr(r: _SegReader, short_len: bool = False) -> str:
    """XLUnicodeString / ShortXLUnicodeString, rich/ext aware."""
    cch = r.u8() if short_len else r.u16()
    grbit = r.u8()
    crun = r.u16() if grbit & 0x08 else 0
    cbext = r.u32() if grbit & 0x04 else 0
    s = r.chars(cch, compressed=not (grbit & 0x01))
    r.skip(4 * crun + cbext)
    return s


def _parse_sst(segs: list[bytes]) -> list[str]:
    r = _SegReader(segs)
    r.skip(4)  # cstTotal
    unique = r.u32()
    return [_unistr(r) for _ in range(unique)]


def _rk_value(rk: int) -> float | int:
    val: float | int
    if rk & 0x02:
        val = struct.unpack("<i", struct.pack("<I", rk & 0xFFFFFFFF))[0] >> 2
    else:
        val = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    if rk & 0x01:
        val = val / 100
    return val


def _date_ifmts(formats: dict[int, str]) -> frozenset[int]:
    """Number-format ids that render as dates: the builtin POI set
    plus custom codes with date tokens — same heuristic as the .xlsx
    reader's _load_date_styles."""
    import re

    out = set(_BUILTIN_DATE_FMT_IDS)
    for ifmt, code in formats.items():
        bare = re.sub(r"\[[^\]]*\]|\"[^\"]*\"|\\.", "", code)
        if _DATE_TOKEN_RE.search(bare):
            out.add(ifmt)
    return frozenset(out)


def _parse_globals(stream: bytes):
    """Workbook-globals substream →
    (sst, xf_ifmts, sheets, date1904, formats)."""
    sst: list[str] = []
    formats: dict[int, str] = {}
    xf_ifmts: list[int] = []
    sheets: list[tuple[int, str]] = []  # (stream offset, name)
    date1904 = False
    for rtype, segs in _records(stream):
        if rtype == 0x000A:  # EOF of globals
            break
        if rtype == 0x00FC:  # SST
            sst = _parse_sst(segs)
        elif rtype == 0x041E:  # FORMAT
            r = _SegReader(segs)
            ifmt = r.u16()
            formats[ifmt] = _unistr(r)
        elif rtype == 0x00E0:  # XF
            xf_ifmts.append(struct.unpack_from("<H", segs[0], 2)[0])
        elif rtype == 0x0085:  # BOUNDSHEET
            r = _SegReader(segs)
            pos = r.u32()
            r.skip(2)
            sheets.append((pos, _unistr(r, short_len=True)))
        elif rtype == 0x0022:  # DATEMODE
            date1904 = bool(segs[0][0])
    return sst, xf_ifmts, sheets, date1904, formats


def _parse_sheet(
    stream: bytes,
    bof_pos: int,
    sst: list[str],
    xf_ifmts: list[int],
    date_fmts: frozenset[int],
    date1904: bool,
) -> list[dict[int, object]]:
    cells: dict[int, dict[int, object]] = {}

    def numeric(rw: int, col: int, ixfe: int, num: float) -> None:
        ifmt = xf_ifmts[ixfe] if ixfe < len(xf_ifmts) else 0
        if ifmt in date_fmts:
            cells.setdefault(rw, {})[col] = _serial_to_iso(
                num + 1462 if date1904 else num
            )
        elif float(num).is_integer() and abs(num) < 2**53:
            cells.setdefault(rw, {})[col] = int(num)
        else:
            cells.setdefault(rw, {})[col] = float(num)

    pending_formula: tuple[int, int] | None = None
    for rtype, segs in _records(stream[bof_pos:]):
        data = segs[0]
        if rtype == 0x000A:  # EOF of this sheet substream
            break
        if rtype == 0x0203:  # NUMBER
            rw, col, ixfe = struct.unpack_from("<HHH", data)
            numeric(rw, col, ixfe, struct.unpack_from("<d", data, 6)[0])
        elif rtype == 0x027E:  # RK
            rw, col, ixfe, rk = struct.unpack_from("<HHHI", data)
            numeric(rw, col, ixfe, _rk_value(rk))
        elif rtype == 0x00BD:  # MULRK
            rw, col_first = struct.unpack_from("<HH", data)
            n_cells = (len(data) - 6) // 6
            for i in range(n_cells):
                ixfe, rk = struct.unpack_from("<HI", data, 4 + 6 * i)
                numeric(rw, col_first + i, ixfe, _rk_value(rk))
        elif rtype == 0x00FD:  # LABELSST
            rw, col, _ixfe, isst = struct.unpack_from("<HHHI", data)
            cells.setdefault(rw, {})[col] = sst[isst]
        elif rtype == 0x0204:  # LABEL (inline string)
            r = _SegReader(segs)
            rw, col = r.u16(), r.u16()
            r.skip(2)
            cells.setdefault(rw, {})[col] = _unistr(r)
        elif rtype == 0x0205:  # BOOLERR
            rw, col, _ixfe, val, is_err = struct.unpack_from("<HHHBB", data)
            if not is_err:
                cells.setdefault(rw, {})[col] = bool(val)
        elif rtype == 0x0006:  # FORMULA (cached result)
            rw, col, ixfe = struct.unpack_from("<HHH", data)
            num = data[6:14]
            if num[6:8] == b"\xff\xff":
                kind = num[0]
                if kind == 0:  # string result in the following STRING
                    pending_formula = (rw, col)
                elif kind == 1:
                    cells.setdefault(rw, {})[col] = bool(num[2])
            else:
                numeric(rw, col, ixfe, struct.unpack("<d", num)[0])
        elif rtype == 0x0207 and pending_formula is not None:  # STRING
            r = _SegReader(segs)
            rw, col = pending_formula
            cells.setdefault(rw, {})[col] = _unistr(r)
            pending_formula = None
    if not cells:
        return []
    return [cells.get(rw, {}) for rw in range(max(cells) + 1)]


def xls_sheet_names(path: str) -> list[str]:
    """Workbook sheet names in order (ExcelSource.getSheetNames for
    legacy files)."""
    stream = _workbook_stream(path)
    _, _, sheets, _, _ = _parse_globals(stream)
    return [name for _, name in sheets]


def read_xls(
    spark: "SparkSession",
    path: str,
    headers: bool = True,
    sheet: int | str = 0,
) -> "DataFrame":
    """Legacy .xls source — same semantics as read_xlsx (ExcelSource
    through POI's HSSF path). ``sheet`` is an index or a name."""
    stream = _workbook_stream(path)
    sst, xf_ifmts, sheets, date1904, formats = _parse_globals(stream)
    if not sheets:
        raise ValueError(f"{path!r}: workbook has no sheets")
    if isinstance(sheet, str) and sheet != "active":
        for pos, name in sheets:
            if name == sheet:
                bof = pos
                break
        else:
            raise ValueError(f"no sheet named {sheet!r}; have {[n for _, n in sheets]}")
    else:
        idx = 0 if sheet == "active" else int(sheet)
        if not (0 <= idx < len(sheets)):
            raise ValueError(f"sheet index {idx} out of range ({len(sheets)} sheets)")
        bof = sheets[idx][0]
    date_fmts = _date_ifmts(formats)
    raw_rows = _parse_sheet(stream, bof, sst, xf_ifmts, date_fmts, date1904)
    return rows_to_dataframe(spark, raw_rows, headers, path)


# -------------------------------------------------------------- BIFF write


def _rec(rtype: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rtype, len(payload)) + payload


def _sst_bytes(strings: list[str]) -> bytes:
    """SST record with CONTINUE spill at the 8224-byte payload cap —
    strings split mid-character-array restate the flag byte, the
    same rule the reader's _SegReader implements."""
    segments: list[bytearray] = [bytearray()]

    def room() -> int:
        return _MAX_RECORD_DATA - len(segments[-1])

    segments[-1] += struct.pack("<II", len(strings), len(strings))
    for s in strings:
        utf16 = any(ord(c) > 0xFF for c in s)
        head = struct.pack("<HB", len(s), 0x01 if utf16 else 0x00)
        if room() < len(head) + (2 if utf16 else 1):
            segments.append(bytearray())
        segments[-1] += head
        i = 0
        width = 2 if utf16 else 1
        while i < len(s):
            if room() < width:
                # spill: new segment restates the compression flag
                segments.append(bytearray([0x01 if utf16 else 0x00]))
            fit = min(len(s) - i, room() // width)
            chunk = s[i : i + fit]
            segments[-1] += chunk.encode("utf-16-le" if utf16 else "latin-1")
            i += fit
    out = _rec(0x00FC, bytes(segments[0]))
    for seg in segments[1:]:
        out += _rec(0x003C, bytes(seg))
    return out


_N_STYLE_XFS = 16


def _globals_prefix() -> bytes:
    """BOF + workbook-globals records up to (not including)
    BOUNDSHEETs: codepage, 1900 date system, one font, the 16 style
    XFs Excel expects plus one general cell XF (index 16)."""
    out = _rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0x0DBB, 0x07CC, 0, 0))
    out += _rec(0x0042, struct.pack("<H", 0x04B0))  # CODEPAGE: UTF-16
    out += _rec(0x0022, struct.pack("<H", 0))  # DATEMODE: 1900 system
    out += _rec(  # FONT: Arial 10, the default POI writes
        0x0031,
        struct.pack("<HHHHHBBBB", 200, 0, 0x7FFF, 400, 0, 0, 0, 0, 0)
        + bytes([5, 0]) + b"Arial",
    )
    for _ in range(_N_STYLE_XFS):  # style XFs: parent 0xFFF, fStyle
        out += _rec(0x00E0, struct.pack("<HHHH", 0, 0, 0xFFF5, 0) + b"\x00" * 12)
    out += _rec(0x00E0, struct.pack("<HHHH", 0, 0, 0x0001, 0) + b"\x00" * 12)  # cell XF
    return out


def _sheet_bytes(
    header: list[str] | None,
    rows: list[tuple],
    dtypes: list[str],
    list_delimiter: str,
    sst_index: dict[str, int],
) -> bytes:
    ixfe = _N_STYLE_XFS  # the general cell XF

    def string_cell(rw: int, col: int, s: str) -> bytes:
        return _rec(0x00FD, struct.pack("<HHHI", rw, col, ixfe, sst_index[s]))

    body = bytearray()
    n_rows = (1 if header is not None else 0) + len(rows)
    n_cols = len(dtypes)
    body += _rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0x0DBB, 0x07CC, 0, 0))
    body += _rec(0x0200, struct.pack("<IIHHH", 0, n_rows, 0, max(n_cols, 1), 0))
    rw = 0
    if header is not None:
        for col, name in enumerate(header):
            body += string_cell(rw, col, str(name))
        rw += 1
    for row in rows:
        for col, v in enumerate(row):
            if v is None:
                continue
            dt = dtypes[col]
            if dt == "boolean":
                body += _rec(0x0205, struct.pack("<HHHBB", rw, col, ixfe, 1 if v else 0, 0))
            elif dt in ("int", "bigint", "smallint", "tinyint", "float", "double") or dt.startswith("decimal"):
                body += _rec(0x0203, struct.pack("<HHH", rw, col, ixfe) + struct.pack("<d", float(v)))
            else:
                body += string_cell(rw, col, _text_value(v, dt, list_delimiter))
        rw += 1
    body += _rec(0x000A, b"")
    return bytes(body)


def _text_value(value, dtype: str, list_delimiter: str) -> str:
    """Non-numeric cell text, the ExcelTarget handler shapes the
    .xlsx writer uses (dates ISO, collections delimiter-joined)."""
    if dtype == "date":
        return value.isoformat()
    if dtype in ("timestamp", "timestamp_ntz"):
        return value.isoformat(sep="T")
    if dtype.startswith("array<"):
        return list_delimiter.join("" if x is None else str(x) for x in value)
    return str(value)


def _workbook_bytes(
    sheets: dict[str, tuple[list[str] | None, list[tuple], list[str]]],
    list_delimiter: str,
) -> bytes:
    # collect the SST over every sheet first (LABELSST indexes it)
    strings: list[str] = []
    index: dict[str, int] = {}

    def intern(s: str) -> None:
        if s not in index:
            index[s] = len(strings)
            strings.append(s)

    for header, rows, dtypes in sheets.values():
        for name in header or ():
            intern(str(name))
        for row in rows:
            for col, v in enumerate(row):
                dt = dtypes[col]
                if v is None or dt == "boolean":
                    continue
                if dt in ("int", "bigint", "smallint", "tinyint", "float", "double") or dt.startswith("decimal"):
                    continue
                intern(_text_value(v, dt, list_delimiter))

    sheet_blobs = [
        _sheet_bytes(header, rows, dtypes, list_delimiter, index)
        for header, rows, dtypes in sheets.values()
    ]
    prefix = _globals_prefix() + _sst_bytes(strings)
    # BOUNDSHEET needs each sheet's absolute stream offset: globals =
    # prefix + boundsheets + EOF, sheets follow in order
    bs_len = sum(4 + 4 + 2 + 2 + len(n.encode("latin-1", "ignore")[:31]) for n in sheets)
    globals_len = len(prefix) + bs_len + 4  # + EOF record
    offsets, cur = [], globals_len
    for blob in sheet_blobs:
        offsets.append(cur)
        cur += len(blob)
    bound = b""
    for (name, _), off in zip(sheets.items(), offsets):
        raw = name.encode("latin-1", "ignore")[:31]
        bound += _rec(0x0085, struct.pack("<IH", off, 0) + struct.pack("<BB", len(raw), 0) + raw)
    assert len(bound) == bs_len
    return prefix + bound + _rec(0x000A, b"") + b"".join(sheet_blobs)


def _cfb_wrap(stream: bytes) -> bytes:
    """Minimal v3 compound file holding one ``Workbook`` stream.
    Streams under the 4096-byte cutoff go through the mini stream +
    miniFAT, as the spec requires of readers."""
    ssz, mssz, cutoff = 512, 64, 4096

    def pad(b: bytes, unit: int) -> bytes:
        rem = -len(b) % unit
        return b + b"\x00" * rem

    use_mini = len(stream) < cutoff
    if use_mini:
        mini = pad(stream, mssz)
        n_mini = len(mini) // mssz
        minifat = list(range(1, n_mini)) + [_ENDOFCHAIN]
        minifat += [_FREESECT] * (ssz // 4 - len(minifat))
        container = pad(mini, ssz)
        n_container = len(container) // ssz
    else:
        container = pad(stream, ssz)
        n_container = len(container) // ssz
        minifat, mini = [], b""

    # sector layout: [0..nf-1]=FAT, then directory, then the miniFAT
    # sector (mini files only), then the container (mini-stream
    # holder or the big stream itself). The FAT sector count is the
    # fixed point of "each 512-byte FAT sector maps 128 sectors
    # including the FAT itself" — a 100k-row sheet needs several;
    # the header's 109 DIFAT slots cover ~7 GB, far past the
    # 65,536-row format cap.
    n_dir = 1  # two 128-byte entries always fit one sector
    extra = n_dir + (1 if use_mini else 0) + n_container
    nf = 1
    while nf * (ssz // 4) < nf + extra:
        nf += 1
    if nf > 109:
        raise ValueError("workbook stream too large for a header-DIFAT compound file")
    dir_start = nf
    minifat_start = nf + n_dir
    first_data = nf + n_dir + (1 if use_mini else 0)
    fat = [0xFFFFFFFD] * nf  # FAT sectors mark themselves
    fat.append(_ENDOFCHAIN)  # single-sector directory chain
    if use_mini:
        fat.append(_ENDOFCHAIN)  # miniFAT sector
    for i in range(n_container):
        fat.append(first_data + i + 1 if i < n_container - 1 else _ENDOFCHAIN)
    fat += [_FREESECT] * (nf * (ssz // 4) - len(fat))

    def dirent(name: str, etype: int, start: int, size: int, child: int = _FREESECT) -> bytes:
        raw = name.encode("utf-16-le") + b"\x00\x00"
        ent = raw + b"\x00" * (64 - len(raw))
        ent += struct.pack("<HBB", len(raw), etype, 1)
        ent += struct.pack("<III", _FREESECT, _FREESECT, child)
        ent += b"\x00" * 16 + b"\x00" * 4 + b"\x00" * 16
        ent += struct.pack("<IQ", start, size)
        return ent

    root_start = first_data if use_mini else _ENDOFCHAIN
    root = dirent("Root Entry", 5, root_start, len(pad(mini, mssz)) if use_mini else 0, child=1)
    wb_start = 0 if use_mini else first_data
    wb = dirent("Workbook", 2, wb_start, len(stream))
    directory = pad(root + wb, ssz)

    header = bytearray(512)
    header[0:8] = _CFB_MAGIC
    struct.pack_into("<H", header, 24, 0x003E)  # minor
    struct.pack_into("<H", header, 26, 0x0003)  # major v3
    struct.pack_into("<H", header, 28, 0xFFFE)  # little endian
    struct.pack_into("<H", header, 30, 9)  # 512-byte sectors
    struct.pack_into("<H", header, 32, 6)  # 64-byte mini sectors
    struct.pack_into("<I", header, 44, nf)  # FAT sector count
    struct.pack_into("<I", header, 48, dir_start)
    struct.pack_into("<I", header, 56, cutoff)
    struct.pack_into("<I", header, 60, minifat_start if use_mini else _ENDOFCHAIN)
    struct.pack_into("<I", header, 64, 1 if use_mini else 0)
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # no DIFAT chain
    for i in range(109):
        struct.pack_into("<I", header, 76 + 4 * i, i if i < nf else _FREESECT)

    body = struct.pack(f"<{nf * (ssz // 4)}I", *fat) + directory
    if use_mini:
        body += struct.pack(f"<{ssz // 4}I", *minifat)
    body += container
    return bytes(header) + body


def write_xls_sheets(
    sheets: dict[str, "DataFrame"],
    path: str,
    headers: bool = True,
    list_delimiter: str = ";",
) -> None:
    """Write one legacy .xls with one worksheet per dict entry —
    the ExcelTarget multi-sheet flow through POI's HSSF path."""
    if not sheets:
        raise ValueError("need at least one sheet")
    collected: dict[str, tuple[list[str] | None, list[tuple], list[str]]] = {}
    for name, df in sheets.items():
        dtypes = [t for _, t in df.dtypes]
        header = list(df.columns) if headers else None
        rows = [tuple(r) for r in df.toLocalIterator()]
        if len(rows) + (1 if headers else 0) > 65536:
            raise ValueError(
                "legacy .xls sheet cap is 65,536 rows; use .xlsx or "
                "parquet/delimited for larger data"
            )
        collected[name] = (header, rows, dtypes)
    stream = _workbook_bytes(collected, list_delimiter)
    with open(path, "wb") as fh:
        fh.write(_cfb_wrap(stream))


def write_xls(
    df: "DataFrame",
    path: str,
    sheet_name: str = "Sheet1",
    headers: bool = True,
    list_delimiter: str = ";",
) -> None:
    """Legacy .xls target (single sheet)."""
    write_xls_sheets({sheet_name: df}, path, headers=headers, list_delimiter=list_delimiter)
