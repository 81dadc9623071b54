"""Legacy binary ``.xls`` (OLE2 + BIFF8) workbook decode — pure stdlib.

The filename contract deliberately accepts both extensions
(``DD \\d\\d.xls[x]?`` — reference src/parse.ts:49, mirrored at
``sources/excel_grid.py``) and the reference's ``xlsx`` library reads
BIFF transparently, but the repo's zip+XML decoder only understood
zip-XML ``.xlsx``: a real drop-dir with an old-format ``DD 07.xls``
threw inside an executor task.
This module is the fuller fix — a minimal BIFF8 string/number cell
reader so legacy workbooks decode to the SAME grid contract; a
workbook neither decoder understands fails the read, naming the file
(``excel_grid.read_workbook_grids``).

Two layers, both stdlib-only (struct + bytes):

* :func:`ole2_stream` — a compound-file (CFB) reader: header DIFAT
  (+ chained DIFAT), FAT sector chains, the directory tree, and the
  mini-FAT/mini-stream for streams under the 4096-byte cutoff.
* :func:`decode_xls_grid` — walks the ``Workbook`` stream's BIFF8
  records: BOUNDSHEET for the sheet offset, SST (with CONTINUE
  continuation and the per-segment option-byte rule, rich-text and
  ext payload skipping), then the worksheet substream's LABELSST /
  LABEL / NUMBER / RK / MULRK / BOOLERR cells.

Scope (deliberate): cached FORMULA results, 1904 date mode, and
charts are out — day-docket grids are literal strings and numbers
(src/parse.ts:61-146).  Out-of-scope is LOUD, never silent: a
1904-flagged workbook raises before any cell is emitted (its serial
dates would decode 1462 days shifted) and a FORMULA record fails the
sheet (skipping it would emit a grid with holes) — either way the
read fails with the file name and the reason.  Numbers are emitted in
the same textual form the xlsx path yields from ``<v>`` (integers
without a trailing ``.0``), so downstream positional parsing is
decoder-agnostic.

Error contract: every malformed input raises ``ValueError`` (the
repo-wide byte-decoder rule, tests/test_codec_fuzz.py) — struct
underruns, bad chains, and truncated records are normalized, never
leaked as IndexError/struct.error from inside an Arrow batch.
"""

from __future__ import annotations

import struct

OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_MAX_CHAIN = 1 << 20  # cycle guard: no sane workbook has 512 GiB chains


def _chain(fat: list[int], start: int) -> list[int]:
    """Follow a FAT/mini-FAT chain; ValueError on cycles or bad ids."""
    out: list[int] = []
    sec = start
    while sec != _ENDOFCHAIN:
        if sec >= len(fat) or sec == _FREESECT or len(out) > _MAX_CHAIN:
            raise ValueError(f"broken OLE2 sector chain at {sec}")
        out.append(sec)
        sec = fat[sec]
    return out


def _sectors(blob: bytes, ids: list[int], size: int) -> bytes:
    parts = []
    for sid in ids:
        off = (sid + 1) * size
        if off + size > len(blob):
            raise ValueError(f"OLE2 sector {sid} beyond end of file")
        parts.append(blob[off : off + size])
    return b"".join(parts)


def ole2_stream(blob: bytes, name: str) -> bytes:
    """Extract one named stream from an OLE2 compound file.

    Handles the header's 109 DIFAT slots plus chained DIFAT sectors,
    regular FAT chains, and the mini-stream (streams smaller than the
    cutoff live in 64-byte mini-sectors inside the root entry's
    chain).  Raises ``ValueError`` for anything malformed and
    ``KeyError`` if the stream name is absent.
    """
    try:
        return _ole2_stream(blob, name)
    except (struct.error, IndexError, OverflowError, MemoryError) as e:
        raise ValueError(f"malformed OLE2 container: {e}") from e


def _ole2_stream(blob: bytes, name: str) -> bytes:
    if len(blob) < 512 or blob[:8] != OLE2_MAGIC:
        raise ValueError("not an OLE2 compound file (bad magic)")
    (sec_shift, mini_shift) = struct.unpack_from("<HH", blob, 30)
    if not 7 <= sec_shift <= 12 or mini_shift >= sec_shift:
        raise ValueError(f"implausible OLE2 sector shifts {sec_shift}/{mini_shift}")
    sec_size, mini_size = 1 << sec_shift, 1 << mini_shift
    (n_fat,) = struct.unpack_from("<I", blob, 44)
    (dir_start,) = struct.unpack_from("<I", blob, 48)
    (cutoff,) = struct.unpack_from("<I", blob, 56)
    (minifat_start, n_minifat) = struct.unpack_from("<II", blob, 60)
    (difat_start, n_difat) = struct.unpack_from("<II", blob, 68)

    # DIFAT: 109 header slots, then chained DIFAT sectors (last 4
    # bytes of each point at the next DIFAT sector).
    fat_sids = [s for s in struct.unpack_from("<109I", blob, 76) if s != _FREESECT]
    sec = difat_start
    per = sec_size // 4 - 1
    # the header's n_difat is attacker-controlled (up to 2^32-1) and a
    # self-pointing DIFAT sector would otherwise spin ~4B cheap
    # iterations inside an executor task instead of raising: clamp to
    # the file's physical sector count AND track visited ids like
    # _chain's cycle guard
    seen_difat: set[int] = set()
    for _ in range(min(n_difat, len(blob) // sec_size + 1)):
        if sec in (_ENDOFCHAIN, _FREESECT):
            break
        if sec in seen_difat:
            raise ValueError(f"OLE2 DIFAT sector cycle at {sec}")
        seen_difat.add(sec)
        raw = struct.unpack_from(f"<{per + 1}I", blob, (sec + 1) * sec_size)
        fat_sids.extend(s for s in raw[:per] if s != _FREESECT)
        sec = raw[per]
    if len(fat_sids) < n_fat:
        raise ValueError("OLE2 DIFAT shorter than declared FAT count")

    fat_raw = _sectors(blob, fat_sids[:n_fat], sec_size)
    fat = list(struct.unpack(f"<{len(fat_raw) // 4}I", fat_raw))

    dir_raw = _sectors(blob, _chain(fat, dir_start), sec_size)
    root_start = root_size = None
    want = name.encode("utf-16-le")
    found: tuple[int, int] | None = None
    for off in range(0, len(dir_raw) - 127, 128):
        (cb_name,) = struct.unpack_from("<H", dir_raw, off + 64)
        if not 2 <= cb_name <= 64:
            continue
        ename = dir_raw[off : off + cb_name - 2]
        etype = dir_raw[off + 66]
        (estart,) = struct.unpack_from("<I", dir_raw, off + 116)
        (esize,) = struct.unpack_from("<Q", dir_raw, off + 120)
        if etype == 5:  # root storage: its chain IS the mini-stream
            root_start, root_size = estart, esize
        elif etype == 2 and ename == want:
            found = (estart, esize)
    if found is None:
        raise KeyError(f"OLE2 stream {name!r} not found")
    start, size = found

    if size >= cutoff:
        data = _sectors(blob, _chain(fat, start), sec_size)
        return data[:size]

    # mini-stream: 64-byte sectors inside the root entry's chain
    if root_start is None:
        raise ValueError("OLE2 mini-stream requested but no root entry")
    mini_container = _sectors(blob, _chain(fat, root_start), sec_size)[:root_size]
    minifat_raw = _sectors(blob, _chain(fat, minifat_start), sec_size) if n_minifat else b""
    minifat = list(struct.unpack(f"<{len(minifat_raw) // 4}I", minifat_raw))
    parts = []
    for sid in _chain(minifat, start):
        off = sid * mini_size
        if off + mini_size > len(mini_container):
            raise ValueError(f"mini-sector {sid} beyond mini-stream end")
        parts.append(mini_container[off : off + mini_size])
    return b"".join(parts)[:size]


# ---------------------------------------------------------------------------
# BIFF8 records
# ---------------------------------------------------------------------------

_EOF = 0x000A
_BOUNDSHEET = 0x0085
_SST = 0x00FC
_CONTINUE = 0x003C
_LABELSST = 0x00FD
_LABEL = 0x0204
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD
_BOOLERR = 0x0205
_DATEMODE = 0x0022
_FORMULA = 0x0006

# Grid width: columns A..G, the day-docket contract of
# excel_grid.GRID_COLUMNS.
_GRID_WIDTH = 7


def _records(stream: bytes, pos: int):
    """Yield (opcode, data, next_pos) from ``pos`` to the substream EOF."""
    n = len(stream)
    while pos + 4 <= n:
        op, ln = struct.unpack_from("<HH", stream, pos)
        if pos + 4 + ln > n:
            raise ValueError(f"truncated BIFF record 0x{op:04x} at {pos}")
        yield op, stream[pos + 4 : pos + 4 + ln], pos + 4 + ln
        if op == _EOF:
            return
        pos += 4 + ln
    raise ValueError("BIFF substream ran past end of stream without EOF")


class _Segments:
    """SST payload as a list of byte segments (SST + CONTINUEs).

    BIFF8 strings may split across CONTINUE boundaries; the character
    bytes restart with a fresh option byte at each boundary, while
    declared rich-run/ext payloads cross boundaries raw.  This cursor
    implements exactly that rule.
    """

    def __init__(self, segments: list[bytes]):
        self.segs = segments
        self.i = 0
        self.pos = 0

    def _remaining(self) -> int:
        return len(self.segs[self.i]) - self.pos

    def _advance_if_exhausted(self) -> None:
        while self.i < len(self.segs) and self.pos >= len(self.segs[self.i]):
            self.i += 1
            self.pos = 0

    def take(self, n: int) -> bytes:
        """Read n raw bytes, crossing segment boundaries freely."""
        out = bytearray()
        while n:
            self._advance_if_exhausted()
            if self.i >= len(self.segs):
                raise ValueError("SST payload truncated")
            step = min(n, self._remaining())
            out += self.segs[self.i][self.pos : self.pos + step]
            self.pos += step
            n -= step
        return bytes(out)

    def take_chars(self, cch: int, wide: bool) -> str:
        """Read cch characters; at a segment boundary a new option
        byte declares the width of the REMAINING characters."""
        out: list[str] = []
        while cch:
            self._advance_if_exhausted()
            if self.i >= len(self.segs):
                raise ValueError("SST string truncated")
            if self._remaining() == 0:
                continue
            avail = self._remaining()
            if wide:
                step = min(cch, avail // 2)
                if step == 0:
                    raise ValueError("odd UTF-16 split in SST string")
                out.append(
                    self.segs[self.i][self.pos : self.pos + 2 * step].decode(
                        "utf-16-le", errors="replace"
                    )
                )
                self.pos += 2 * step
            else:
                step = min(cch, avail)
                out.append(
                    self.segs[self.i][self.pos : self.pos + step].decode(
                        "latin-1"
                    )
                )
                self.pos += step
            cch -= step
            if cch:
                if self._remaining():
                    # only reachable when a wide read left an odd
                    # trailing byte in this segment: narrow reads
                    # always drain the segment before looping, so a
                    # leftover byte here is a malformed split — falling
                    # through would misread it as the continuation
                    # option byte and silently decode garbage
                    raise ValueError("odd UTF-16 split in SST string")
                # boundary crossed: next segment starts with an option byte
                self._advance_if_exhausted()
                if self.i >= len(self.segs):
                    raise ValueError("SST string truncated at boundary")
                wide = bool(self.segs[self.i][self.pos] & 1)
                self.pos += 1
        return "".join(out)


def _read_unicode_string(cur: _Segments) -> str:
    (cch,) = struct.unpack("<H", cur.take(2))
    grbit = cur.take(1)[0]
    wide = bool(grbit & 0x01)
    rich = bool(grbit & 0x08)
    ext = bool(grbit & 0x04)
    c_run = struct.unpack("<H", cur.take(2))[0] if rich else 0
    cb_ext = struct.unpack("<I", cur.take(4))[0] if ext else 0
    s = cur.take_chars(cch, wide)
    if c_run:
        cur.take(4 * c_run)
    if cb_ext:
        cur.take(cb_ext)
    return s


def _parse_sst(payload_segments: list[bytes]) -> list[str]:
    cur = _Segments(payload_segments)
    (_total, unique) = struct.unpack("<II", cur.take(8))
    if unique > 1 << 24:
        raise ValueError(f"implausible SST size {unique}")
    return [_read_unicode_string(cur) for _ in range(unique)]


def _rk_value(rk: int) -> float:
    div100 = rk & 1
    if rk & 2:  # 30-bit signed integer
        v = rk >> 2
        if v & (1 << 29):
            v -= 1 << 30
        val = float(v)
    else:  # high 30 bits of an IEEE double
        val = struct.unpack("<d", struct.pack("<Q", (rk & ~3) << 32))[0]
    return val / 100.0 if div100 else val


def _num_text(v: float) -> str:
    """Textual form matching what the xlsx path reads from ``<v>``:
    integral values have no trailing ``.0``."""
    if v == int(v) and abs(v) < 2**53:
        return str(int(v))
    return repr(v)


def decode_xls_grid(
    content: bytes, sheet_name: str
) -> list[tuple[int, list[str | None]]]:
    """Decode one worksheet of a BIFF8 ``.xls`` blob to (row_idx,
    cells) — the same grid contract as ``decode_xlsx_grid``.

    Raises ``ValueError`` for malformed containers/records and
    ``KeyError`` when the worksheet is absent (mirroring the xlsx
    decoder's error split).
    """
    try:
        stream = ole2_stream(content, "Workbook")
    except KeyError:
        # pre-BIFF8 files name the stream "Book" — BIFF5 cell records
        # differ, so fail the workbook loudly
        raise ValueError("OLE2 container has no BIFF8 'Workbook' stream")
    try:
        return _decode_workbook_stream(stream, sheet_name)
    except (struct.error, IndexError, OverflowError, UnicodeDecodeError) as e:
        raise ValueError(f"malformed BIFF8 stream: {e}") from e


def _decode_workbook_stream(
    stream: bytes, sheet_name: str
) -> list[tuple[int, list[str | None]]]:
    sst: list[str] = []
    sheet_pos: int | None = None
    sst_segs: list[bytes] = []
    in_sst = False
    for op, data, _nxt in _records(stream, 0):
        if op == _DATEMODE:
            (flag,) = struct.unpack_from("<H", data, 0)
            if flag == 1:
                # 1904 date mode shifts every serial date by 1462 days;
                # decoding it silently would hand downstream date logic
                # plausible-but-wrong values — fail loudly instead
                raise ValueError(
                    "BIFF8 1904 date mode not supported"
                    " (serial dates would decode shifted)"
                )
            continue
        if op == _SST:
            sst_segs = [data]
            in_sst = True
            continue
        if op == _CONTINUE and in_sst:
            sst_segs.append(data)
            continue
        in_sst = False
        if op == _BOUNDSHEET:
            (pos,) = struct.unpack_from("<I", data, 0)
            cch = data[6]
            wide = bool(data[7] & 1)
            raw = data[8 : 8 + cch * (2 if wide else 1)]
            nm = raw.decode("utf-16-le" if wide else "latin-1", errors="replace")
            if nm == sheet_name:
                sheet_pos = pos
    if sst_segs:
        sst = _parse_sst(sst_segs)
    if sheet_pos is None:
        raise KeyError(f"worksheet {sheet_name!r} not found in workbook")
    if sheet_pos >= len(stream):
        raise ValueError(f"BOUNDSHEET offset {sheet_pos} beyond stream end")

    cells: dict[int, dict[int, str]] = {}

    def put(r: int, c: int, v: str) -> None:
        if 0 <= c < _GRID_WIDTH:
            cells.setdefault(r + 1, {})[c] = v

    for op, data, _nxt in _records(stream, sheet_pos):
        if op == _FORMULA:
            # cached FORMULA results are out of scope (day-docket grids
            # are literal cells): decoding the rest of the sheet while
            # skipping formula cells would silently emit a grid with
            # holes — fail the workbook loudly instead
            raise ValueError(
                "BIFF8 FORMULA cells not supported (cached results"
                " out of scope)"
            )
        if op == _LABELSST:
            r, c, _ixfe, isst = struct.unpack_from("<HHHI", data, 0)
            if isst >= len(sst):
                raise ValueError(f"LABELSST index {isst} outside SST")
            put(r, c, sst[isst])
        elif op == _LABEL:
            r, c, _ixfe = struct.unpack_from("<HHH", data, 0)
            put(r, c, _read_unicode_string(_Segments([data[6:]])))
        elif op == _NUMBER:
            r, c, _ixfe = struct.unpack_from("<HHH", data, 0)
            (v,) = struct.unpack_from("<d", data, 6)
            put(r, c, _num_text(v))
        elif op == _RK:
            r, c, _ixfe = struct.unpack_from("<HHH", data, 0)
            (rk,) = struct.unpack_from("<I", data, 6)
            put(r, c, _num_text(_rk_value(rk)))
        elif op == _MULRK:
            r, c0 = struct.unpack_from("<HH", data, 0)
            n = (len(data) - 6) // 6
            for k in range(n):
                (rk,) = struct.unpack_from("<I", data, 4 + 6 * k + 2)
                put(r, c0 + k, _num_text(_rk_value(rk)))
        elif op == _BOOLERR:
            r, c, _ixfe, b, is_err = struct.unpack_from("<HHHBB", data, 0)
            if not is_err:
                put(r, c, "True" if b else "False")

    if not cells:
        return []
    out: list[tuple[int, list[str | None]]] = []
    for r in range(1, max(cells) + 1):
        row = cells.get(r, {})
        out.append((r, [row.get(c) for c in range(_GRID_WIDTH)]))
    return out
