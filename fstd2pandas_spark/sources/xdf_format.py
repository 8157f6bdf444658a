"""Real RPN standard-file (FST/XDF) binary layout — reader and writer.

This is the on-disk format produced by ECCC tools via librmn: a
big-endian XDF container whose directory pages hold 9×64-bit packed
record headers (the "primary keys"), with record payloads addressed by
word address (``swa``) and length (``lng``).  The bit layout is public
(librmn ``qstdir.h``); the reference decodes it with ctypes + numpy in
std_io.py:247-460 (structures) and std_io.py:656-799 (vectorized
unpack).  This module implements the same layout from the spec, in both
directions, with no librmn dependency:

word pair layout of one directory entry (32-bit big-endian words)::

    0  deleted:1 select:7 lng:24   | 1  addr:32 (swa, origin-1 64-bit)
    2  deet:24 nbits:8             | 3  ni:24 gtyp:8
    4  nj:24 datyp:8               | 5  nk:20 ubc:12
    6  npas:26 pad:6               | 7  ig4:24 ig2a:8
    8  ig1:24 ig2b:8               | 9  ig3:24 ig2c:8
    10 etik15:30 pad:2             | 11 etik6a:30 pad:2
    12 etikbc:12 typvar:12 pad:8   | 13 nomvar:24 pad:8
    14 ip1:28 levtyp:4             | 15 ip2:28 pad:4
    16 ip3:28 pad:4                | 17 date_stamp:32

Strings are 6-bit printable codes (``chr(code + 32)``); the valid date
stamp packs as ``(datev // 10) * 8 + datev % 10`` and the origin date is
recovered as ``stamp - (deet * npas) // 5`` (std_io.py:761-792).

File layout::

    file_header       16 words + key-descriptor table  (sign 'STDR' at
                      byte 12 — the c_wkoffit magic the reference sniffs,
                      std_io.py:136-151)
    DIR0 pages        8-word page header + 256 packed entries each,
                      chained through nxt_addr
    records           [primary keys (lprm×2 words) | aux keys (laux×2) |
                      payload words], one extent per record at its swa

Payload packing implemented for the uncompressed transparent datyps —
IEEE float (5, 32/64-bit), unsigned int (2), signed int (4) — and for
every packed/compressed code in the DATYP table via the numpy codec
family in ``turbo_codec.py`` (the armn_compress/float_packer analogue;
reference std_io.py:550-560, DATYP_DICT __init__.py:94-108): legacy
packed floats 1 'R' / 6 'F' (exponent-aligned fixed point) and the
compressed codes 129 'R', 130 'I', 132 'S', 133 'E', 134 'F'
(Lorenzo-predictor entropy layer). Self-describing payload headers, so
the reader needs no librmn length tables.
"""

from __future__ import annotations

import glob as _glob
import os
from typing import Iterable

import numpy as np

from fstd2pandas_spark.sources import turbo_codec
from fstd2pandas_spark.sources.fstrec_format import RecordHeader

SIGN = b"STDR"
VRSN = b"XDF0"
ENTRIES_PER_PAGE = 256
ENTRY_WORDS = 18          # 9 × 64-bit
PAGE_HEADER_WORDS = 8
PAGE_WORDS = PAGE_HEADER_WORDS + ENTRIES_PER_PAGE * ENTRY_WORDS
FILE_HEADER_FIXED_WORDS = 16
NPRM, LPRM = 16, 9        # primary keys: 9 × 64-bit incl. XDF header
NAUX, LAUX = 2, 2         # aux keys (xtra1..3 + pad): 2 × 64-bit
KEY_TABLE_WORDS = 2 * (NPRM + NAUX)
FILE_HEADER_WORDS = FILE_HEADER_FIXED_WORDS + KEY_TABLE_WORDS

#: transparent (uncompressed) payload datyps -> big-endian numpy dtype
#: keyed by (datyp, nbits); everything else needs the armn bit codecs
_TRANSPARENT = {
    (5, 32): ">f4", (5, 64): ">f8",
    (2, 32): ">u4", (4, 32): ">i4",
}


def _str6(s: str, n: int) -> int:
    """Pack an n-char space-padded string into n 6-bit codes."""
    s = s[:n].ljust(n)
    v = 0
    for ch in s:
        code = ord(ch) - 32
        if not 0 <= code < 64:
            raise ValueError(f"character {ch!r} not encodable in 6 bits")
        v = (v << 6) | code
    return v


def _unpack_str6(vals: np.ndarray, n: int) -> np.ndarray:
    """n 6-bit codes -> '|S{n}' byte strings, vectorized."""
    out = np.empty((len(vals), n), dtype="ubyte")
    for i in range(n):
        out[:, i] = ((vals >> ((n - 1 - i) * 6)) & 0x3F) + 32
    return out.reshape(-1).view(f"|S{n}")


def stamp_raw(datev: int) -> int:
    """User RMN stamp -> raw directory stamp (std_io.py:784: the inverse
    of ``(raw >> 3) * 10 + (raw & 7)``). Valid stamps end in 0-7; a
    last digit of 8/9 has no raw encoding and would silently round-trip
    to a different value, so reject it."""
    datev = int(datev)
    if datev % 10 > 7:
        raise ValueError(
            f"datev {datev}: not a valid RMN stamp (last digit must be 0-7)")
    return (datev // 10) * 8 + datev % 10


def stamp_user(raw) -> "np.ndarray":
    """Raw directory stamp -> user RMN stamp (std_io.py:784)."""
    raw = np.asarray(raw, dtype="int64")
    return (raw >> 3) * 10 + (raw & 0x7)


def payload_dtype(datyp: int, nbits: int) -> str:
    dt = _TRANSPARENT.get((int(datyp), int(nbits)))
    if dt is None:
        raise NotImplementedError(
            f"datyp={datyp}/nbits={nbits}: unsupported layout; readable "
            f"here are the transparent layouts {sorted(_TRANSPARENT)} and "
            f"the self-describing packed/compressed datyps "
            f"{turbo_codec.SELF_DESCRIBING_DATYPS}"
        )
    return dt


_FIELD_BITS = (("ni", 24), ("nj", 24), ("nk", 20), ("deet", 24),
               ("npas", 26), ("ip1", 28), ("ip2", 28), ("ip3", 28),
               ("ig1", 24), ("ig2", 24), ("ig3", 24), ("ig4", 24),
               ("datyp", 8), ("nbits", 8))


def pack_dir_entry(rec: dict, swa: int, lng: int) -> np.ndarray:
    """One record's metadata -> the 18-word packed directory entry."""
    w = np.zeros(ENTRY_WORDS, dtype=">u4")
    if not 0 < lng < (1 << 24):
        raise ValueError(f"record length {lng} units out of 24-bit range")
    # every packed field must fit its directory-entry bit width — the
    # shifts below would otherwise truncate silently (e.g. ig2 >= 2^24)
    for name, bits in _FIELD_BITS:
        v = int(rec.get(name, 0) or 0)
        if not 0 <= v < (1 << bits):
            raise ValueError(
                f"{name}={v} out of the {bits}-bit directory-entry range")
    # NULL string metadata writes as SPACES (reads back as ''), never
    # as str(None): the old stringification silently wrote the literal
    # text 'None'/'No' into nomvar/typvar/etiket — and a NULL grtyp
    # became 'N', a REAL grid type (polar stereographic), corrupting
    # the record's projection on disk
    def _s(key: str, default: str = "") -> str:
        v = rec.get(key)
        return default if v is None else str(v)

    deleted = 1 if rec.get("deleted") else 0
    w[0] = (deleted << 31) | (int(lng) & 0xFFFFFF)
    w[1] = swa
    w[2] = (int(rec["deet"]) << 8) | (int(rec["nbits"]) & 0xFF)
    w[3] = (int(rec["ni"]) << 8) | (ord(_s("grtyp", "X")[:1] or "X") & 0xFF)
    w[4] = (int(rec["nj"]) << 8) | (int(rec["datyp"]) & 0xFF)
    w[5] = (int(rec.get("nk", 1)) << 12)  # ubc = 0
    w[6] = int(rec["npas"]) << 6
    ig2 = int(rec["ig2"])
    w[7] = (int(rec["ig4"]) << 8) | ((ig2 >> 16) & 0xFF)
    w[8] = (int(rec["ig1"]) << 8) | ((ig2 >> 8) & 0xFF)
    w[9] = (int(rec["ig3"]) << 8) | (ig2 & 0xFF)
    etiket = _s("etiket").ljust(12)
    w[10] = _str6(etiket[:5], 5) << 2
    w[11] = _str6(etiket[5:10], 5) << 2
    w[12] = ((_str6(etiket[10:12], 2) << 12) | _str6(_s("typvar"), 2)) << 8
    w[13] = _str6(_s("nomvar"), 4) << 8
    w[14] = int(rec["ip1"]) << 4  # levtyp = 0
    w[15] = int(rec["ip2"]) << 4
    w[16] = int(rec["ip3"]) << 4
    w[17] = stamp_raw(rec["datev"]) & 0xFFFFFFFF
    return w


def unpack_dir_entries(raw: np.ndarray) -> dict:
    """(n, 18) uint32 words -> column arrays. The same divmod cascade the
    reference runs over librmn's in-core pages (std_io.py:735-799),
    rebuilt from the qstdir.h layout over on-disk big-endian words."""
    raw = raw.astype("int64")
    out: dict = {}
    top8, out["lng"] = np.divmod(raw[:, 0], 1 << 24)
    out["lng"] = out["lng"] * 2          # 64-bit units -> 32-bit words
    out["dltf"] = (top8 >> 7).astype("ubyte")
    out["swa"] = raw[:, 1]
    out["deet"], out["nbits"] = np.divmod(raw[:, 2], 256)
    out["ni"], gtyp = np.divmod(raw[:, 3], 256)
    out["nj"], out["datyp"] = np.divmod(raw[:, 4], 256)
    out["nk"], out["ubc"] = np.divmod(raw[:, 5], 4096)
    out["npas"] = raw[:, 6] >> 6
    out["ig4"], ig2a = np.divmod(raw[:, 7], 256)
    out["ig1"], ig2b = np.divmod(raw[:, 8], 256)
    out["ig3"], ig2c = np.divmod(raw[:, 9], 256)
    out["ig2"] = (ig2a << 16) | (ig2b << 8) | ig2c
    etik15 = raw[:, 10] >> 2
    etik6a = raw[:, 11] >> 2
    etikbc, typvar = np.divmod(raw[:, 12] >> 8, 4096)
    nomvar = raw[:, 13] >> 8
    out["ip1"] = raw[:, 14] >> 4
    out["ip2"] = raw[:, 15] >> 4
    out["ip3"] = raw[:, 16] >> 4
    raw_stamp = raw[:, 17]
    out["datev"] = stamp_user(raw_stamp)
    out["dateo"] = stamp_user(raw_stamp - (out["deet"] * out["npas"]) // 5)

    e = np.empty((len(raw), 12), dtype="ubyte")
    e[:, 0:5] = _unpack_str6(etik15, 5).view("ubyte").reshape(-1, 5)
    e[:, 5:10] = _unpack_str6(etik6a, 5).view("ubyte").reshape(-1, 5)
    e[:, 10:12] = _unpack_str6(etikbc, 2).view("ubyte").reshape(-1, 2)
    # RAW space-padded bytes (round 18): the 6-bit decode pads with
    # spaces; np.char.strip here measured ~1.4 us/record — consumers
    # strip instead (the boxed view per record, the scan path in Arrow
    # at C speed), and the verify path compares the raw bytes directly
    out["etiket"] = e.reshape(-1).view("|S12")
    out["nomvar"] = _unpack_str6(nomvar, 4)
    out["typvar"] = _unpack_str6(typvar, 2)
    out["grtyp"] = gtyp.astype("ubyte").view("|S1")
    return out


def _payload_words(rec: dict, d: np.ndarray) -> np.ndarray:
    datyp, nbits = int(rec["datyp"]), int(rec["nbits"])
    ni, nj = int(rec["ni"]), int(rec["nj"])
    nk = int(rec.get("nk", 1) or 1)
    # the reader sizes transparent payloads from ni*nj*nk, so a
    # mismatched d would silently bleed into the next record's key
    # block on read
    want = ni * nj * nk
    arr = np.asarray(d)
    if arr.dtype == object:
        # NULL elements are the engine's MASKED representation
        # (mask.py) — the astype below would die as an opaque numpy
        # TypeError; name the remedy instead (the fstrec writer rule)
        raise ValueError(
            f"record {rec.get('nomvar')!r}: d contains NULL (masked) "
            "elements — run recover_mask() to split the record into "
            "data + mask before writing")
    if arr.size != want:
        raise ValueError(
            f"record {rec.get('nomvar')!r}: len(d)={arr.size} != "
            f"ni*nj*nk={want}")
    if turbo_codec.is_codec_datyp(datyp, nbits):
        words = turbo_codec.compress_payload(arr, ni, nj, nk, datyp, nbits)
    else:
        buf = np.ascontiguousarray(arr.astype(payload_dtype(datyp, nbits)))
        words = np.frombuffer(buf.tobytes(), dtype=">u4").copy()
    if len(words) % 2:  # pad to a 64-bit boundary
        # concatenate would normalize to native byte order — keep >u4
        words = np.concatenate([words, np.zeros(1, dtype=">u4")]).astype(">u4")
    return words


def write_xdf(path: str, records: "list[dict]") -> int:
    """Write records (an iterable of BASE column dicts + ``d``) as one
    FST/XDF file.

    Layout: file header, then every directory page, then the record
    extents; pages are chained through ``nxt_addr`` and each record's
    primary-key block is repeated at its ``swa`` the way librmn lays
    files out, so the result is byte-compatible with the walk in
    std_io.py:656-735.

    Memory (round 18): rows collapse to packed big-endian payload words
    as they arrive (the unpickled Python-float lists cost ~11x the raw
    bytes when a partition is held whole, measured in PLANS.md), and
    once the running payload passes ``_SPILL_BYTES`` the packed words
    stream to a sidecar (``<path>.spill``, removed on every exit path)
    — peak memory is O(one record + directory) regardless of partition
    size, same as the fstrec writer; the swa layout only needs the
    per-record LENGTHS up front, which the spill keeps. Output is
    byte-identical either way, and the target file is still only
    created after every record validates."""
    metas: "list[dict]" = []
    chunks: "list[bytes]" = []
    plens: "list[int]" = []
    buf_bytes = 0
    spill = None
    spill_path = path + ".spill"
    try:
        for rec in records:
            pw = _payload_words(rec, rec.get("d", []))
            b = pw.tobytes()
            plens.append(len(pw))
            m = dict(rec)
            m.pop("d", None)    # drop the float-object list immediately
            metas.append(m)
            if spill is None and buf_bytes + len(b) > _SPILL_BYTES:
                spill = open(spill_path, "wb")
                for c in chunks:
                    spill.write(c)
                chunks = []
            if spill is not None:
                spill.write(b)
            else:
                chunks.append(b)
            buf_bytes += len(b)
        if spill is not None:
            spill.close()
            spill = None
        return _assemble_xdf(
            path, metas, plens, chunks,
            spill_path if buf_bytes and not chunks else None)
    finally:
        if spill is not None:
            spill.close()
        if os.path.exists(spill_path):
            os.remove(spill_path)


#: write-path spill threshold (the fstrec writer's contract)
_SPILL_BYTES = 64 * 1024 * 1024


def _assemble_xdf(path: str, records: "list[dict]", plens: "list[int]",
                  chunks: "list[bytes]",
                  spill_path: "str | None") -> int:
    """Directory + record-extent assembly from per-record metadata and
    payload word counts; payload bytes come from the in-memory chunk
    list or stream back out of the sidecar."""
    n = len(records)
    npages = max(1, -(-n // ENTRIES_PER_PAGE))
    header_units = FILE_HEADER_WORDS // 2
    page_units = PAGE_WORDS // 2
    first_page = 1 + header_units
    lngs = [LPRM + LAUX + pl // 2 for pl in plens]
    swas = []
    cur = first_page + npages * page_units
    for lng in lngs:
        swas.append(cur)
        cur += lng
    fsiz = cur - 1

    words = np.zeros(FILE_HEADER_WORDS + npages * PAGE_WORDS, dtype=">u4")
    # --- file header (std_io.py:362-396 field comments) ---
    words[0] = header_units & 0xFFFFFF          # idtyp 0
    words[1] = 0                                # addr: 0 for file header
    words[2] = np.frombuffer(VRSN, dtype=">u4")[0]
    words[3] = np.frombuffer(SIGN, dtype=">u4")[0]
    words[4] = fsiz
    words[5] = 0                                # nrwr
    words[6] = 0                                # nxtn
    words[7] = npages                           # nbd
    words[8] = first_page + (npages - 1) * page_units  # plst
    words[9] = max(lngs, default=0)             # nbig
    words[10] = (LPRM << 16) | NPRM
    words[11] = (LAUX << 16) | NAUX
    words[12] = 0                               # neff
    words[13] = n                               # nrec
    words[14] = 0                               # rwflg
    # key-descriptor table left zeroed: readers locate keys via lprm/laux

    entries = np.zeros((n, ENTRY_WORDS), dtype=">u4")
    for i, rec in enumerate(records):
        entries[i] = pack_dir_entry(rec, swas[i], lngs[i])

    for p in range(npages):
        base = FILE_HEADER_WORDS + p * PAGE_WORDS
        addr = first_page + p * page_units
        chunk = entries[p * ENTRIES_PER_PAGE:(p + 1) * ENTRIES_PER_PAGE]
        words[base + 0] = page_units & 0xFFFFFF
        words[base + 1] = addr
        words[base + 2] = np.frombuffer(b"DIR0", dtype=">u4")[0]
        words[base + 4] = addr + page_units if p + 1 < npages else 0
        words[base + 5] = len(chunk)
        words[base + 6] = np.bitwise_xor.reduce(
            chunk.reshape(-1).astype("uint32")) if len(chunk) else 0
        flat = base + PAGE_HEADER_WORDS
        words[flat:flat + chunk.size] = chunk.reshape(-1)

    sf = open(spill_path, "rb") if spill_path else None
    try:
        with open(path, "wb") as f:
            f.write(words.tobytes())
            aux = np.zeros(2 * LAUX, dtype=">u4")
            for i, rec in enumerate(records):
                f.write(entries[i].tobytes())
                aux[0] = stamp_raw(rec["datev"]) & 0xFFFFFFFF
                f.write(aux.tobytes())
                f.write(sf.read(plens[i] * 4) if sf is not None
                        else chunks[i])
    finally:
        if sf is not None:
            sf.close()
    return n


def maybe_xdf(path: str) -> bool:
    """The reference's maybeFST sniff (std_io.py:136-151): c_wkoffit's
    'STDR' signature at byte 12."""
    try:
        with open(path, "rb") as f:
            buf = f.read(16)
        return len(buf) == 16 and buf[12:] == SIGN
    except OSError:
        return False


def _walk_directory(path: str) -> "tuple[dict | None, int]":
    """Walk header -> DIR0 page chain -> vectorized entry unpack; never
    touches payload bytes (the metadata fast path, std_io.py:656-812).
    Returns (column dict incl. dltf/swa, key_offset) — None columns for
    an empty directory.

    Corruption contract (round 17): a damaged file raises, never
    returns silently wrong headers — a truncated page read, an entry
    count outside [0, ENTRIES_PER_PAGE] (a flipped ``nent`` would
    otherwise pull record bytes into the directory as garbage entries),
    a page-chain cycle (a flipped ``nxt_addr`` pointing backward would
    otherwise loop forever), and an XOR-checksum mismatch over the
    page's entries (the ``chksum`` word the writer stamps; a zero
    stored checksum is treated as absent) are all loud ``ValueError``s.

    Foreign-file relaxation (round 18): the chksum formula and the
    ``nrec == walked entries`` census are THIS writer's invariants —
    the reference documents nrec as the number of *valid* records
    (erased entries stay in the pages) and never validates chksum on
    read ('not valid when in core', std_io.py header comments), so an
    authentic librmn file with erased records or a stale checksum is
    NOT corrupt. Files are told apart by the key-descriptor table:
    librmn always writes bit descriptors there, this writer zeroes it.
    On a foreign file the chksum mismatch downgrades to a warning and
    the censuses only reject *fewer* walked records/pages than declared
    (a provably damaged chain); native files keep the strict guards the
    corruption fuzz pins.
    """
    import warnings as _warnings

    with open(path, "rb") as f:
        head = np.frombuffer(f.read(FILE_HEADER_FIXED_WORDS * 4), dtype=">u4")
        # slice (not index) keeps the big-endian dtype for tobytes()
        if len(head) < FILE_HEADER_FIXED_WORDS or head[3:4].tobytes() != SIGN:
            raise ValueError(f"not an FST/XDF file: {path}")
        key_table = np.frombuffer(f.read(KEY_TABLE_WORDS * 4), dtype=">u4")
        native = not key_table.any()
        header_units = int(head[0]) & 0xFFFFFF
        lprm = int(head[10]) >> 16
        laux = int(head[11]) >> 16
        key_offset = (lprm + laux) * 8
        chunks = []
        next_addr = 1 + header_units
        seen_pages: "set[int]" = set()
        while next_addr:
            if next_addr in seen_pages:
                raise ValueError(
                    f"corrupt FST/XDF directory in {path}: page chain "
                    f"cycles back to unit {next_addr}")
            seen_pages.add(next_addr)
            f.seek((next_addr - 1) * 8)
            page_head = np.frombuffer(f.read(PAGE_HEADER_WORDS * 4), dtype=">u4")
            if len(page_head) < PAGE_HEADER_WORDS or \
                    page_head[2:3].tobytes() != b"DIR0":
                raise ValueError(
                    f"bad directory page at unit {next_addr} in {path}")
            nent = int(page_head[5])
            if not 0 <= nent <= ENTRIES_PER_PAGE:
                raise ValueError(
                    f"corrupt FST/XDF directory in {path}: page at unit "
                    f"{next_addr} claims {nent} entries (max "
                    f"{ENTRIES_PER_PAGE} per page)")
            buf = f.read(nent * ENTRY_WORDS * 4)
            if len(buf) < nent * ENTRY_WORDS * 4:
                raise ValueError(
                    f"truncated FST/XDF directory in {path}: page at "
                    f"unit {next_addr} claims {nent} entries but the "
                    f"file ends after {len(buf)} bytes of them")
            raw = np.frombuffer(buf, dtype=">u4").reshape(nent, ENTRY_WORDS)
            stored_chksum = int(page_head[6])
            if stored_chksum and nent:
                got = int(np.bitwise_xor.reduce(
                    raw.reshape(-1).astype("uint32")))
                if got != stored_chksum:
                    if native:
                        raise ValueError(
                            f"corrupt FST/XDF directory in {path}: page "
                            f"at unit {next_addr} fails its XOR checksum "
                            f"(stored {stored_chksum:#010x}, computed "
                            f"{got:#010x}) — entries are bit-damaged")
                    # librmn's on-disk chksum may be stale/garbage
                    # ('not valid when in core') and its formula is not
                    # public — trust the entries on a foreign file
                    _warnings.warn(
                        f"FST/XDF page at unit {next_addr} in {path} "
                        "does not match this engine's XOR checksum "
                        f"(stored {stored_chksum:#010x}, computed "
                        f"{got:#010x}); librmn files carry no "
                        "read-validated checksum — trusting the entries")
            chunks.append(raw)
            next_addr = int(page_head[4])
    # cross-check the walk against the file header's own censuses: a
    # flipped nxt_addr that happens to become 0 would otherwise end the
    # chain early and silently drop every later page's records. Native
    # files: strict equality (this writer stamps exact counts, deleted
    # entries included in nrec). Foreign files: nrec counts only VALID
    # records and headers may be stale — only FEWER walked than
    # declared is provably a damaged chain.
    nrec = int(head[13])
    nbd = int(head[7])
    total = sum(len(c) for c in chunks)
    cols = (unpack_dir_entries(np.concatenate(chunks)) if total else None)
    nvalid = (total - int(np.count_nonzero(cols["dltf"])) if total else 0)
    walked_rec = total if native else nvalid
    if nrec and (walked_rec != nrec if native else walked_rec < nrec):
        raise ValueError(
            f"corrupt FST/XDF directory in {path}: walked {walked_rec} "
            f"{'entries' if native else 'valid records'} but the file "
            f"header declares nrec={nrec} — the page chain is damaged")
    if nbd and (len(seen_pages) != nbd if native
                else len(seen_pages) < nbd):
        raise ValueError(
            f"corrupt FST/XDF directory in {path}: walked "
            f"{len(seen_pages)} directory pages but the file header "
            f"declares nbd={nbd} — the page chain is damaged")
    return cols, key_offset


#: integer metadata columns the scan path carries (schema order)
_INT_COLS = ("ni", "nj", "nk", "dateo", "ip1", "ip2", "ip3", "deet",
             "npas", "datyp", "nbits", "ig1", "ig2", "ig3", "ig4",
             "datev")
_STR_COLS = ("nomvar", "typvar", "etiket", "grtyp")


def read_xdf_directory_columns(path: str) -> "dict[str, np.ndarray]":
    """Directory -> column arrays for non-deleted records, no
    per-record boxing (round 18 scan fast path): the schema metadata
    columns (strings as RAW space-padded bytes — XDF semantics strip
    BOTH sides, which the scan does in Arrow) plus int64 ``offset`` /
    ``n_floats``."""
    cols, key_offset = _walk_directory(path)
    if cols is None:
        return {k: np.zeros(0, dtype="int64") for k in
                _INT_COLS + ("offset", "n_floats")} | {
                k: np.zeros(0, dtype="S1") for k in _STR_COLS}
    m = cols["dltf"] == 0
    out: "dict[str, np.ndarray]" = {}
    for k in _STR_COLS + _INT_COLS:
        out[k] = cols[k][m]
    out["offset"] = (cols["swa"][m].astype("int64") - 1) * 8 + key_offset
    out["n_floats"] = (out["ni"].astype("int64")
                       * out["nj"].astype("int64")
                       * out["nk"].astype("int64"))
    return out


def read_xdf_directory(path: str, include_deleted: bool = False
                       ) -> "list[RecordHeader]":
    """Boxed directory view (see :func:`_walk_directory` for the walk
    and its corruption/foreign-file contract; the scan path reads
    :func:`read_xdf_directory_columns` instead)."""
    cols, key_offset = _walk_directory(path)
    if cols is None:
        return []
    out = []
    for i in range(len(cols["swa"])):
        if cols["dltf"][i] and not include_deleted:
            continue
        out.append(RecordHeader(
            nomvar=cols["nomvar"][i].decode().strip(),
            typvar=cols["typvar"][i].decode().strip(),
            etiket=cols["etiket"][i].decode().strip(),
            grtyp=cols["grtyp"][i].decode().strip(),
            ni=int(cols["ni"][i]), nj=int(cols["nj"][i]),
            nk=int(cols["nk"][i]), dateo=int(cols["dateo"][i]),
            ip1=int(cols["ip1"][i]), ip2=int(cols["ip2"][i]),
            ip3=int(cols["ip3"][i]), deet=int(cols["deet"][i]),
            npas=int(cols["npas"][i]), datyp=int(cols["datyp"][i]),
            nbits=int(cols["nbits"][i]), ig1=int(cols["ig1"][i]),
            ig2=int(cols["ig2"][i]), ig3=int(cols["ig3"][i]),
            ig4=int(cols["ig4"][i]), datev=int(cols["datev"][i]),
            offset=(int(cols["swa"][i]) - 1) * 8 + key_offset,
            n_floats=int(cols["ni"][i]) * int(cols["nj"][i])
            * int(cols["nk"][i]),
        ))
    return out


def verify_record_keys(f, header: RecordHeader) -> None:
    """Cross-check the record-local primary-key block against the
    directory-derived header (round 17).

    XDF repeats every record's packed primary keys at its ``swa``
    ahead of the payload (write_xdf lays files out that way; librmn
    rebuilds damaged directories from exactly these copies).  A bit
    flip in either copy — a directory entry pointing at the wrong
    extent (flipped ``swa``), or damaged metadata on either side —
    makes the two copies disagree, so payload reads can be verified
    instead of trusting the directory blindly.  The local block is
    DECODED and compared field-by-field (not repacked-and-compared:
    string metadata canonicalizes on read — stripped padding — so a
    repack of the read-back header need not be byte-identical to what
    an arbitrary writer packed); ``swa`` is cross-checked against the
    header's byte offset.  Raises ``ValueError`` on mismatch or
    truncation; returns None when the copies agree.
    """
    _verify_key_blocks(
        f, np.array([header.offset], dtype="int64"),
        {k: np.array([getattr(header, k)]) for k in _VERIFIED_FIELDS})


_VERIFIED_FIELDS = ("nomvar", "typvar", "etiket", "grtyp", "ni", "nj",
                    "nk", "ip1", "ip2", "ip3", "deet", "npas", "datyp",
                    "nbits", "ig1", "ig2", "ig3", "ig4", "datev")


def verify_record_keys_cols(f, cols: "dict[str, np.ndarray]",
                            idx: np.ndarray) -> None:
    """Vectorized :func:`verify_record_keys` over the rows of ``cols``
    selected by ``idx``, without boxing RecordHeaders — the scan-path
    shape: per-record verification runs ``unpack_dir_entries`` at batch
    size 1 (~276 µs/record measured — a 100x tax over the raw payload
    read, ~16 s on a 60k-record file), while ONE unpack over the
    stacked key blocks costs ~3 µs/record. The file reads stay
    per-record (adjacent to the payload reads the caller is about to
    do); only the decode+compare is batched."""
    if not len(idx):
        return
    _verify_key_blocks(f, cols["offset"][idx],
                       {k: cols[k][idx] for k in _VERIFIED_FIELDS})


def _verify_key_blocks(f, offsets: np.ndarray,
                       expected: "dict[str, np.ndarray]") -> None:
    """Shared core: read each record-local key block, decode them all
    in ONE unpack, compare field-by-field against the expected arrays
    (directory-derived)."""
    key_bytes = (LPRM + LAUX) * 8
    n = len(offsets)
    blocks = np.empty((n, ENTRY_WORDS), dtype=">u4")
    swas = np.empty(n, dtype="int64")
    for i in range(n):
        rec_start = int(offsets[i]) - key_bytes
        if rec_start < 0:
            raise ValueError(
                f"corrupt FST/XDF record {expected['nomvar'][i]!r}: "
                "directory swa points before the start of the file")
        f.seek(rec_start)
        buf = f.read(LPRM * 8)
        if len(buf) < LPRM * 8:
            raise ValueError(
                f"truncated FST/XDF record {expected['nomvar'][i]!r}: "
                "file ends inside the record's primary-key block")
        blocks[i] = np.frombuffer(buf, dtype=">u4")
        swas[i] = rec_start // 8 + 1
    cols = unpack_dir_entries(blocks)
    bad: "dict[int, list[str]]" = {}
    for k in _VERIFIED_FIELDS:
        got = cols[k]
        want = np.asarray(expected[k])
        if got.dtype.kind == "S" and want.dtype.kind == "U":
            # boxed callers pass stripped python strings; the key
            # block carries raw padded bytes — canonicalize (small n:
            # this variant serves point reads and tests; the scan
            # path's expected arrays are raw bytes, compared directly)
            got = np.char.strip(got.astype("U"))
        elif got.dtype.kind in "US":
            want = np.asarray(want, dtype=got.dtype)
        for i in np.nonzero(got != want)[0]:
            bad.setdefault(int(i), []).append(k)
    for i in np.nonzero(cols["swa"].astype("int64") != swas)[0]:
        bad.setdefault(int(i), []).append("swa")
    if bad:
        i, fields = next(iter(sorted(bad.items())))
        raise ValueError(
            f"corrupt FST/XDF record {str(expected['nomvar'][i])!r} at "
            f"swa {int(swas[i])}:"
            f" the record-local primary keys disagree with the "
            f"directory entry on {fields} — the directory or the "
            "record extent is bit-damaged (or the swa points at the "
            "wrong extent)")


def read_xdf_payload(f, header: RecordHeader,
                     verify_keys: bool = True) -> np.ndarray:
    """Seek + read one record's payload (the point read of get_data,
    std_io.py:463-475), decoded per (datyp, nbits) and returned float32
    to match the engine's ``d`` column type.  Turbo-packed records
    (datyp 130/134) carry a self-describing header, so the byte count
    comes from the payload itself rather than ni*nj*nk.

    Corruption contract (round 17): the returned array ALWAYS has
    ``ni*nj*nk`` elements — a truncated payload raises instead of
    silently returning a short array (``np.frombuffer`` on a short
    read would), and ``verify_keys`` (default on; one extra 72-byte
    read per record) cross-checks the record-local primary-key block
    against the directory entry so a bit-damaged directory or a
    ``swa`` pointing at the wrong extent raises before any bytes are
    decoded."""
    if verify_keys:
        verify_record_keys(f, header)
    return read_xdf_payload_at(
        f, header.offset, header.ni, header.nj, header.nk,
        header.datyp, header.nbits, header.n_floats, header.nomvar)


def read_xdf_payload_at(f, offset: int, ni: int, nj: int, nk: int,
                        datyp: int, nbits: int, n_floats: int,
                        nomvar="?") -> np.ndarray:
    """Scalar-argument payload read (the columnar scan path; key
    verification is the caller's batched step)."""
    if turbo_codec.is_codec_datyp(datyp, nbits):
        nwords = turbo_codec.compressed_payload_length(f, offset)
        f.seek(offset)
        buf = f.read(nwords * 4)
        if len(buf) < nwords * 4:
            raise ValueError(
                f"truncated FST/XDF record {nomvar!r}: "
                f"compressed payload claims {nwords} words but the "
                f"file ends after {len(buf)} bytes")
        words = np.frombuffer(buf, dtype=">u4")
        return turbo_codec.decompress_payload(
            words, ni, nj, nk, datyp, nbits)
    dt = payload_dtype(datyp, nbits)
    f.seek(offset)
    nbytes = n_floats * np.dtype(dt).itemsize
    buf = f.read(nbytes)
    if len(buf) < nbytes:
        raise ValueError(
            f"truncated FST/XDF record {nomvar!r}: payload "
            f"needs {nbytes} bytes ({n_floats} values of {dt}) "
            f"but the file ends after {len(buf)}")
    return np.frombuffer(buf, dtype=dt).astype("<f4")


def list_xdf_files(path: str) -> "list[str]":
    """Expand a path/directory/glob to FST files (sniffed by magic)."""
    if os.path.isdir(path):
        cand: Iterable[str] = (
            os.path.join(path, p) for p in sorted(os.listdir(path)))
    elif any(ch in path for ch in "*?["):
        cand = sorted(_glob.glob(path))
    else:
        return [path]
    return [p for p in cand if maybe_xdf(p)]
