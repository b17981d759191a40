"""Pure-stdlib PDF text extraction — the reference's actual input format.

The reference's unit of input is a PDF file: extract.py:65 globs
``*.pdf`` and extract.py:33-35 passes the raw bytes to the LLM whole,
so the engine's S1 raw-file path (sources/raw_files.py) must turn a
directory of PDFs into ``(conv_id, doc_text)`` documents before the
extraction operators can run.  No PDF library ships in this container,
so — same discipline as operators/jpeg.py — the parser below is
stdlib-only (``re`` + ``zlib``):

- **xref walk**: classic ``xref`` tables and PDF 1.5 cross-reference
  *streams* (``/Type /XRef``, ``/W`` field widths, PNG predictors
  10-15), following ``/Prev`` chains across incremental updates with
  first-seen-wins entry precedence; a brute-force ``N G obj`` scan is
  the fallback for files with a damaged trailer.
- **object streams**: type-2 xref entries resolve through
  ``/Type /ObjStm`` containers (``/N`` pairs + ``/First`` offset).
- **filters**: FlateDecode (zlib, with PNG Up/Sub/Average/Paeth
  row predictors), ASCIIHexDecode, ASCII85Decode, and LZWDecode
  (TIFF variant, EarlyChange-aware).
- **fonts**: per-page ``/Resources /Font`` resolution with page-tree
  attribute inheritance; subset fonts decode through their
  ``/ToUnicode`` CMap (codespace width, bfchar, both bfrange forms)
  tracked across ``Tf`` switches.  Fonts WITHOUT a /ToUnicode — the
  common pdfTeX/dvips case — decode through ``/Encoding
  /Differences`` glyph names (Adobe Glyph List subset + uniXXXX
  forms) or a named base encoding (WinAnsi = cp1252, MacRoman);
  Identity-H CID fonts with no Unicode contract contribute nothing
  instead of mojibake.
- **incremental updates**: free xref entries (classic ``f`` rows and
  type-0 stream rows) are tombstones, so objects deleted by a newer
  update cannot resurrect from an older ``/Prev`` section; hybrid-
  reference files (``/XRefStm``) give the stream's entries precedence
  over their own classic section (PDF 32000 §7.5.8.4).
- **encryption** (§7.6.3-7.6.4, standard security handler, EMPTY user
  password — the publisher case): RC4 V1/V2 R2/R3, V4 crypt filters
  with ``/CFM /V2`` (RC4) or ``/CFM /AESV2`` (AES-128-CBC), and V5
  AES-256 — deprecated R5 and PDF 2.0 R6 (Algorithm 2.B KDF, /UE
  file-key unwrap).  The FIPS-197 cipher is validated against the
  appendix-C vectors; CBC decryption runs as one numpy block-parallel
  batch (~8 MB/s).  Real passwords and unknown versions raise, which
  the ingest path classifies into quarantine reasons
  (``encrypted_pdf`` / ``encrypted_pdf_unsupported``) instead of
  emitting garbage text.
- **text operators**: page-tree walk (``/Root → /Pages → /Kids``),
  per-page ``/Contents`` concatenation, then a content-stream scan of
  ``BT``/``ET`` text objects handling ``Tj``, ``TJ`` (kern-aware:
  a move ≤ -180/1000 em reads as a word space), ``'``, ``\"``,
  and the line-move operators ``Td``/``TD``/``T*``/``Tm`` (a line
  move between shows emits a newline).  Literal strings decode the
  full escape set (``\\n \\r \\t \\b \\f \\( \\) \\\\``, octal
  ``\\ddd``, line continuations); hex strings pair nibbles; a
  UTF-16BE BOM switches the byte decode, else PDFDocEncoding is
  approximated as Latin-1.

Spark integration is the binary-column batch contract: Arrow-batched
``mapInPandas`` over the ``binaryFile`` scan's ``content`` column —
per-file decode parallelizes across executors and undecodable files
quarantine as null text instead of aborting the batch.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
_OBJ_RE = re.compile(rb"(?<![0-9])(\d+)\s+(\d+)\s+obj\b")


class Name(str):
    """A PDF name token (``/Foo``) — distinct from string values."""


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num, self.gen = num, gen

    def __repr__(self):  # pragma: no cover - debug aid
        return f"{self.num} {self.gen} R"


class _Stream:
    """An indirect object carrying a raw stream body (num/gen retained
    for per-object decryption keys)."""

    __slots__ = ("dict", "raw", "num", "gen")

    def __init__(self, d: dict, raw: bytes, num: int = 0, gen: int = 0):
        self.dict, self.raw = d, raw
        self.num, self.gen = num, gen


# -- standard security handler (PDF 32000 §7.6.3) ---------------------
# RC4 ("V1/V2") encryption with the EMPTY user password — the common
# publisher case (files openable by any reader but flagged encrypted).
# AES (V≥4 /AESV2) and real passwords raise, which the Spark ingest
# path turns into a quarantine row instead of extracted garbage.

_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, byte in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = byte ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _std_file_key(o: bytes, p: int, id0: bytes, r: int, n: int,
                  encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2 with the empty user password: file encryption key
    of ``n`` bytes (n = /Length/8, 5 for R2)."""
    import hashlib
    import struct

    extra = b"" if (r < 4 or encrypt_metadata) else b"\xff\xff\xff\xff"
    h = hashlib.md5(
        _PAD + o[:32] + struct.pack("<I", p & 0xFFFFFFFF) + id0 + extra
    ).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    return h[:n]


def _std_user_check(key: bytes, u: bytes, id0: bytes, r: int) -> bool:
    """Algorithm 4 (R2) / 5 (R3): does the derived key reproduce /U —
    i.e. does the EMPTY user password open this file?"""
    import hashlib

    if r == 2:
        return _rc4(key, _PAD) == u[:32]
    x = _rc4(key, hashlib.md5(_PAD + id0).digest())
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in key), x)
    return x == u[:16]


def _obj_key(file_key: bytes, num: int, gen: int,
             aes: bool = False) -> bytes:
    """Per-object key: MD5(file key + objnum LE24 + gen LE16
    [+ b"sAlT" for AESV2]), truncated to min(n+5, 16)."""
    import hashlib

    h = hashlib.md5(
        file_key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
        + (b"sAlT" if aes else b"")
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


# -- AES (FIPS-197) inverse cipher, pure stdlib -----------------------
# Only DEcryption is needed reader-side (AESV2 = AES-128-CBC with a
# 16-byte IV prefix and PKCS#5 padding, PDF 32000 §7.6.2).  Table-free
# matrix form: ~2 MB/s in CPython — decode-bound but correct, and the
# per-file mapInPandas path parallelizes it across executors.

_AES_SBOX_INV = None
_AES_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36,
             0x6C, 0xD8, 0xAB, 0x4D]


def _aes_tables():
    global _AES_SBOX_INV
    if _AES_SBOX_INV is not None:
        return _AES_SBOX_INV
    # build the S-box from the AES affine map over GF(2^8) inverses
    sbox = [0] * 256
    p = q = 1
    while True:
        # p advances by multiplying with 3; q by dividing by 3
        p = p ^ ((p << 1) & 0xFF) ^ (0x1B if p & 0x80 else 0)
        q ^= q << 1
        q ^= q << 2
        q ^= q << 4
        q &= 0xFF
        if q & 0x80:
            q ^= 0x09
        x = q ^ ((q << 1) | (q >> 7)) ^ ((q << 2) | (q >> 6)) \
            ^ ((q << 3) | (q >> 5)) ^ ((q << 4) | (q >> 4))
        sbox[p] = (x ^ 0x63) & 0xFF
        if p == 1:
            break
    sbox[0] = 0x63
    inv = [0] * 256
    for i, v in enumerate(sbox):
        inv[v] = i
    _AES_SBOX_INV = (sbox, inv)
    return _AES_SBOX_INV


def _xt(a: int) -> int:  # GF(2^8) multiply by x
    return ((a << 1) ^ 0x1B) & 0xFF if a & 0x80 else a << 1


def _gmul(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a = _xt(a)
        b >>= 1
    return r


def _aes_expand_key(key: bytes) -> list:
    sbox, _ = _aes_tables()
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [sbox[b] for b in t]
            t[0] ^= _AES_RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [sbox[b] for b in t]
        w.append([w[i - nk][j] ^ t[j] for j in range(4)])
    return [[b for c in range(4) for b in w[4 * r + c]]
            for r in range(nr + 1)]


def _aes_decrypt_block(block: bytes, round_keys: list) -> bytes:
    _, inv_sbox = _aes_tables()
    nr = len(round_keys) - 1
    s = [block[i] ^ round_keys[nr][i] for i in range(16)]
    for rnd in range(nr - 1, -1, -1):
        # InvShiftRows
        s = [s[(i - 4 * (i % 4)) % 16] for i in range(16)]
        # InvSubBytes
        s = [inv_sbox[b] for b in s]
        # AddRoundKey
        s = [s[i] ^ round_keys[rnd][i] for i in range(16)]
        if rnd:
            # InvMixColumns
            t = []
            for c in range(4):
                col = s[4 * c:4 * c + 4]
                t += [
                    _gmul(col[0], 14) ^ _gmul(col[1], 11)
                    ^ _gmul(col[2], 13) ^ _gmul(col[3], 9),
                    _gmul(col[0], 9) ^ _gmul(col[1], 14)
                    ^ _gmul(col[2], 11) ^ _gmul(col[3], 13),
                    _gmul(col[0], 13) ^ _gmul(col[1], 9)
                    ^ _gmul(col[2], 14) ^ _gmul(col[3], 11),
                    _gmul(col[0], 11) ^ _gmul(col[1], 13)
                    ^ _gmul(col[2], 9) ^ _gmul(col[3], 14),
                ]
            s = t
    return bytes(s)


def _aes_encrypt_block(block: bytes, round_keys: list) -> bytes:
    """Forward cipher — needed reader-side only for the R6 key
    derivation (Algorithm 2.B runs AES-128-CBC-ENCRYPT inside its
    hash loop)."""
    sbox, _ = _aes_tables()
    nr = len(round_keys) - 1
    s = [block[i] ^ round_keys[0][i] for i in range(16)]
    for rnd in range(1, nr + 1):
        s = [sbox[b] for b in s]
        s = [s[(i + 4 * (i % 4)) % 16] for i in range(16)]  # ShiftRows
        if rnd != nr:
            t = []
            for c in range(4):
                a = s[4 * c:4 * c + 4]
                t += [
                    _xt(a[0]) ^ _xt(a[1]) ^ a[1] ^ a[2] ^ a[3],
                    a[0] ^ _xt(a[1]) ^ _xt(a[2]) ^ a[2] ^ a[3],
                    a[0] ^ a[1] ^ _xt(a[2]) ^ _xt(a[3]) ^ a[3],
                    _xt(a[0]) ^ a[0] ^ a[1] ^ a[2] ^ _xt(a[3]),
                ]
            s = t
        s = [s[i] ^ round_keys[rnd][i] for i in range(16)]
    return bytes(s)


def _aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    rks = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i:i + 16], prev))
        prev = _aes_encrypt_block(blk, rks)
        out += prev
    return bytes(out)


def _r6_hash(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """PDF 2.0 Algorithm 2.B (the R6 KDF): SHA-256 seeded, then a
    ≥64-round loop of AES-128-CBC over the repeated password/key
    material with a data-dependent SHA-256/384/512 switch."""
    import hashlib

    K = hashlib.sha256(pwd + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (pwd + K + udata) * 64
        e = _aes_cbc_encrypt_nopad(K[:16], K[16:32], k1)
        K = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return K[:32]


_AES_NP = None


def _aes_np_tables():
    global _AES_NP
    if _AES_NP is None:
        import numpy as np

        _, inv_sbox = _aes_tables()
        _AES_NP = {
            "isbox": np.array(inv_sbox, dtype=np.uint8),
            "isr": np.array([(i - 4 * (i % 4)) % 16 for i in range(16)]),
            "mul": {c: np.array([_gmul(i, c) for i in range(256)],
                                dtype=np.uint8) for c in (9, 11, 13, 14)},
        }
    return _AES_NP


def _aes_blocks_decrypt(key: bytes, blocks):
    """numpy batch ECB decrypt of an (n, 16) uint8 array."""
    import numpy as np

    t = _aes_np_tables()
    rks = [np.array(rk, dtype=np.uint8) for rk in _aes_expand_key(key)]
    nr = len(rks) - 1
    S = blocks ^ rks[nr]
    mul = t["mul"]
    for rnd in range(nr - 1, -1, -1):
        S = t["isbox"][S[:, t["isr"]]]
        S ^= rks[rnd]
        if rnd:
            T = np.empty_like(S)
            for c in range(4):
                a, b = S[:, 4 * c], S[:, 4 * c + 1]
                d, e = S[:, 4 * c + 2], S[:, 4 * c + 3]
                T[:, 4 * c] = mul[14][a] ^ mul[11][b] ^ mul[13][d] ^ mul[9][e]
                T[:, 4 * c + 1] = mul[9][a] ^ mul[14][b] ^ mul[11][d] ^ mul[13][e]
                T[:, 4 * c + 2] = mul[13][a] ^ mul[9][b] ^ mul[14][d] ^ mul[11][e]
                T[:, 4 * c + 3] = mul[11][a] ^ mul[13][b] ^ mul[9][d] ^ mul[14][e]
            S = T
    return S


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """AESV2/AESV3 payload: 16-byte IV || ciphertext; strips PKCS#5
    pad.

    CBC *decryption* is block-parallel (plain_i = D(C_i) ^ C_{i-1}),
    so the whole payload decrypts as one numpy batch — fancy-indexed
    InvSubBytes/InvMixColumns over an (n_blocks, 16) state runs ~3
    orders of magnitude faster than a per-byte Python loop, which is
    what makes megabyte content streams practical."""
    import numpy as np

    if len(data) < 32 or len(data) % 16:
        return b""
    ct = np.frombuffer(data, dtype=np.uint8)
    S = _aes_blocks_decrypt(key, ct[16:].reshape(-1, 16))
    out = bytes((S ^ ct[:-16].reshape(-1, 16)).tobytes())
    pad = out[-1] if out else 0
    if 1 <= pad <= 16:
        out = out[:-pad]
    return out


def _aes_cbc_decrypt_raw(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Explicit-IV, no-padding CBC decrypt (the /UE and /OE wrapped
    file keys use a zero IV and exactly two blocks)."""
    import numpy as np

    if not data or len(data) % 16:
        return b""
    ct = np.frombuffer(data, dtype=np.uint8)
    S = _aes_blocks_decrypt(key, ct.reshape(-1, 16))
    prev = np.frombuffer(iv + data[:-16], dtype=np.uint8).reshape(-1, 16)
    return bytes((S ^ prev).tobytes())


def _decrypt_strings(val, fn):
    """Recursively decrypt the STRING values of one parsed object with
    ``fn`` (names/numbers untouched; a ``Name`` is ``str``, never
    bytes)."""
    if isinstance(val, bytes):
        return fn(val)
    if isinstance(val, list):
        return [_decrypt_strings(v, fn) for v in val]
    if isinstance(val, dict):
        return {k: _decrypt_strings(v, fn) for k, v in val.items()}
    return val


def _skip_ws(buf: bytes, i: int) -> int:
    n = len(buf)
    while i < n:
        c = buf[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # '%' comment to EOL
            j = buf.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            break
    return i


def _parse_lit_string(buf: bytes, i: int) -> tuple[bytes, int]:
    # buf[i] == '('
    i += 1
    depth = 1
    out = bytearray()
    esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
           0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
    n = len(buf)
    while i < n:
        c = buf[i]
        if c == 0x5C:  # backslash
            i += 1
            c = buf[i]
            if c in esc:
                out.append(esc[c])
                i += 1
            elif 0x30 <= c <= 0x37:  # up to 3 octal digits
                val = 0
                for _ in range(3):
                    if i < n and 0x30 <= buf[i] <= 0x37:
                        val = val * 8 + (buf[i] - 0x30)
                        i += 1
                    else:
                        break
                out.append(val & 0xFF)
            elif c == 0x0D:  # line continuation \<CR>[<LF>]
                i += 1
                if i < n and buf[i] == 0x0A:
                    i += 1
            elif c == 0x0A:
                i += 1
            else:  # unknown escape: char stands for itself
                out.append(c)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _parse_hex_string(buf: bytes, i: int) -> tuple[bytes, int]:
    # buf[i] == '<' (and buf[i+1] != '<')
    j = buf.index(b">", i)
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", buf[i + 1:j])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")), j + 1


def _parse_name(buf: bytes, i: int) -> tuple[Name, int]:
    # buf[i] == '/'
    i += 1
    j = i
    n = len(buf)
    while j < n and buf[j] not in _WS and buf[j] not in _DELIM:
        j += 1
    raw = buf[i:j]
    # '#hh' hex escapes inside names
    raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                 lambda m: bytes([int(m.group(1), 16)]), raw)
    return Name(raw.decode("latin-1")), j


def _parse_object(buf: bytes, i: int):
    """Recursive-descent parse of one PDF object at ``i``.
    Returns (value, next_index)."""
    i = _skip_ws(buf, i)
    c = buf[i:i + 1]
    if c == b"<":
        if buf[i:i + 2] == b"<<":
            d: dict = {}
            i += 2
            while True:
                i = _skip_ws(buf, i)
                if buf[i:i + 2] == b">>":
                    return d, i + 2
                key, i = _parse_name(buf, i)
                val, i = _parse_object(buf, i)
                d[str(key)] = val
        return _parse_hex_string(buf, i)
    if c == b"(":
        return _parse_lit_string(buf, i)
    if c == b"/":
        return _parse_name(buf, i)
    if c == b"[":
        arr = []
        i += 1
        while True:
            i = _skip_ws(buf, i)
            if buf[i:i + 1] == b"]":
                return arr, i + 1
            val, i = _parse_object(buf, i)
            arr.append(val)
    if buf[i:i + 4] == b"true":
        return True, i + 4
    if buf[i:i + 5] == b"false":
        return False, i + 5
    if buf[i:i + 4] == b"null":
        return None, i + 4
    m = _NUM_RE.match(buf, i)
    if m:
        tok = m.group(0)
        i = m.end()
        if b"." in tok:
            return float(tok), i
        num = int(tok)
        # lookahead for 'G R' indirect reference
        j = _skip_ws(buf, i)
        m2 = _NUM_RE.match(buf, j)
        if m2 and b"." not in m2.group(0):
            k = _skip_ws(buf, m2.end())
            if buf[k:k + 1] == b"R" and (
                k + 1 >= len(buf)
                or buf[k + 1] in _WS
                or buf[k + 1] in _DELIM
            ):
                return Ref(num, int(m2.group(0))), k + 1
        return num, i
    raise ValueError(f"pdf: unparseable object at byte {i}")


def _ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (PDF 32000 §7.4.3): base-85 groups, ``z`` for an
    all-zero group, ``~>`` EOD, partial final group."""
    data = re.sub(rb"\s", b"", data.split(b"~>")[0])
    out = bytearray()
    group: list[int] = []
    for b in data:
        if b == 0x7A:  # 'z'
            if group:
                raise ValueError("pdf: z inside ascii85 group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= b <= 0x75:
            raise ValueError("pdf: bad ascii85 byte")
        group.append(b - 0x21)
        if len(group) == 5:
            v = 0
            for d in group:
                v = v * 85 + d
            out += v.to_bytes(4, "big")
            group = []
    if group:  # partial group: pad with 'u' (84), drop pad bytes
        n = len(group)
        for _ in range(5 - n):
            group.append(84)
        v = 0
        for d in group:
            v = v * 85 + d
        out += v.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode (PDF 32000 §7.4.4 — the TIFF/PDF LZW variant): 9-12
    bit variable codes MSB-first, 256=clear, 257=EOD, table rebuild on
    clear, width bump at 511/1023/2047 (minus ``EarlyChange``)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # TIFF/PDF convention (pdfminer, qpdf): with EarlyChange=1 the
            # width bumps when the table reaches 511/1023/2047 entries —
            # one entry *early*, i.e. before the table actually fills the
            # current width.
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _png_unpredict(data: bytes, columns: int, colors: int = 1,
                   bpc: int = 8) -> bytes:
    """Undo PNG row predictors (Predictor >= 10) on a decoded stream —
    the PNG spec's per-row filter dispatch (None/Sub/Up/Average/Paeth)."""
    bpp = max(1, (colors * bpc) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    while i + 1 <= len(data) - rowlen:
        ft = data[i]
        row = bytearray(data[i + 1:i + 1 + rowlen])
        i += 1 + rowlen
        if ft == 1:  # Sub
            for k in range(bpp, rowlen):
                row[k] = (row[k] + row[k - bpp]) & 0xFF
        elif ft == 2:  # Up
            for k in range(rowlen):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif ft == 3:  # Average
            for k in range(rowlen):
                left = row[k - bpp] if k >= bpp else 0
                row[k] = (row[k] + (left + prev[k]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for k in range(rowlen):
                a = row[k - bpp] if k >= bpp else 0
                b = prev[k]
                cc = prev[k - bpp] if k >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[k] = (row[k] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


class PdfDocument:
    """One parsed PDF: xref/object-stream walk + lazy object cache."""

    def __init__(self, data: bytes):
        self.data = data
        self.xref: dict[int, tuple[str, int, int]] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._enc: Optional[dict] = None
        try:
            self._load_xref()
        except Exception:
            self.xref.clear()
        if not self.xref or "Root" not in self.trailer:
            self._brute_scan()
        if "Encrypt" in self.trailer:
            # objects parsed before this point (xref streams, the
            # Encrypt dict itself) are unencrypted by spec
            self._enc = self._setup_encryption()
            # a brute-force scan may have cached objects (Root hunt)
            # with their strings still encrypted — drop them so every
            # post-setup read decrypts
            self._cache.clear()

    def _setup_encryption(self) -> dict:
        """Standard-handler setup: derive the file key for the EMPTY
        user password and verify it against /U. Raises for AES/crypt
        filters (V≥4), non-Standard handlers, and real passwords —
        the ingest path quarantines on these instead of emitting
        RC4-garbage text."""
        enc = self.resolve(self.trailer["Encrypt"])
        if isinstance(enc, _Stream):
            enc = enc.dict
        if not isinstance(enc, dict):
            raise ValueError("pdf: malformed /Encrypt")
        if str(enc.get("Filter")) != "Standard":
            raise ValueError(
                f"pdf: unsupported security handler {enc.get('Filter')}")
        v = int(self.resolve(enc.get("V")) or 0)
        r = int(self.resolve(enc.get("R")) or 2)
        if v == 5:
            return self._setup_v5(enc, r)
        aes = False
        enc_streams = enc_strings = True
        if v == 4:
            # crypt filters: /StmF and /StrF select which filter (if
            # any — /Identity means NOT encrypted) applies to streams
            # and strings; only the /StdCF filter itself is supported
            cf = self.resolve(enc.get("CF")) or {}
            stdcf = self.resolve(cf.get("StdCF")) if isinstance(cf, dict) \
                else None
            cfm = str(self.resolve(stdcf.get("CFM"))
                      ) if isinstance(stdcf, dict) else ""
            if cfm == "AESV2":
                aes = True
            elif cfm != "V2":
                raise ValueError(
                    f"pdf: unsupported encryption crypt filter {cfm}")
            stmf = str(self.resolve(enc.get("StmF")) or "Identity")
            strf = str(self.resolve(enc.get("StrF")) or "Identity")
            for sel in (stmf, strf):
                if sel not in ("Identity", "StdCF"):
                    raise ValueError(
                        f"pdf: unsupported encryption crypt filter {sel}")
            enc_streams = stmf == "StdCF"
            enc_strings = strf == "StdCF"
        elif v not in (1, 2) or r not in (2, 3):
            raise ValueError(f"pdf: unsupported encryption V={v} R={r}")
        o = self.resolve(enc.get("O"))
        u = self.resolve(enc.get("U"))
        p = self.resolve(enc.get("P"))
        if not isinstance(o, bytes) or not isinstance(u, bytes) \
                or not isinstance(p, int):
            raise ValueError("pdf: malformed /Encrypt O/U/P")
        n = 5 if r == 2 else int(self.resolve(enc.get("Length")) or 40) // 8
        if aes:
            # AESV2 keys are 128-bit by definition; some writers set
            # only the crypt filter's byte /Length, not the top-level
            # bit /Length, so don't trust the 40-bit default here
            n = 16
        em = self.resolve(enc.get("EncryptMetadata"))
        ids = self.resolve(self.trailer.get("ID"))
        id0 = ids[0] if isinstance(ids, list) and ids else b""
        key = _std_file_key(o, p, id0, r, n,
                            encrypt_metadata=em is not False)
        if not _std_user_check(key, u, id0, r):
            raise ValueError("pdf: password protected")
        return {"key": key, "aes": aes,
                "streams": enc_streams, "strings": enc_strings}

    def _setup_v5(self, enc: dict, r: int) -> dict:
        """AES-256 (PDF 2.0 §7.6.4): /U = hash(32) ‖ validation
        salt(8) ‖ key salt(8); the empty user password must reproduce
        the hash (R6 = Algorithm 2.B KDF, deprecated R5 = plain
        SHA-256), then /UE unwraps the 256-bit file key (AES-CBC,
        zero IV, no padding).  All data uses the file key directly —
        no per-object derivation at V5."""
        import hashlib

        if r not in (5, 6):
            raise ValueError(f"pdf: unsupported encryption V=5 R={r}")
        u = self.resolve(enc.get("U"))
        ue = self.resolve(enc.get("UE"))
        if not isinstance(u, bytes) or len(u) < 48 \
                or not isinstance(ue, bytes) or len(ue) != 32:
            raise ValueError("pdf: malformed /Encrypt U/UE")
        vsalt, ksalt = u[32:40], u[40:48]
        if r == 6:
            if _r6_hash(b"", vsalt) != u[:32]:
                raise ValueError("pdf: password protected")
            ik = _r6_hash(b"", ksalt)
        else:
            if hashlib.sha256(vsalt).digest() != u[:32]:
                raise ValueError("pdf: password protected")
            ik = hashlib.sha256(ksalt).digest()
        key = _aes_cbc_decrypt_raw(ik, b"\x00" * 16, ue)
        return {"key": key, "aes": True, "v5": True}

    def _decrypt(self, data: bytes, num: int, gen: int) -> bytes:
        if self._enc.get("v5"):
            return _aes_cbc_decrypt(self._enc["key"], data)
        if self._enc.get("aes"):
            return _aes_cbc_decrypt(
                _obj_key(self._enc["key"], num, gen, aes=True), data)
        return _rc4(_obj_key(self._enc["key"], num, gen), data)

    # -- xref ---------------------------------------------------------
    def _load_xref(self) -> None:
        data = self.data
        tail = data.rfind(b"startxref")
        if tail < 0:
            raise ValueError("no startxref")
        m = _NUM_RE.search(data, tail + 9)
        if not m:
            raise ValueError("bad startxref")
        offset: Optional[int] = int(m.group(0))
        seen: set[int] = set()
        while offset is not None and offset not in seen:
            seen.add(offset)
            i = _skip_ws(data, offset)
            if data[i:i + 4] == b"xref":
                offset = self._load_xref_table(i + 4)
            else:
                offset = self._load_xref_stream(i)

    def _set(self, num: int, entry: tuple[str, int, int]) -> None:
        # first-seen wins: the newest xref section is walked first
        if num not in self.xref:
            self.xref[num] = entry

    def _load_xref_table(self, i: int) -> Optional[int]:
        # Classic entries are collected and applied only after any
        # hybrid-reference /XRefStm loads: PDF 32000 §7.5.8.4 lets the
        # classic section mark XRefStm-covered objects free, and the
        # stream's entries take precedence over its own section (but
        # both still win over older /Prev sections — first-seen-wins).
        data = self.data
        pending: list[tuple[int, tuple[str, int, int]]] = []
        while True:
            i = _skip_ws(data, i)
            if data[i:i + 7] == b"trailer":
                tr, i = _parse_object(data, i + 7)
                for k, v in tr.items():
                    self.trailer.setdefault(k, v)
                if "XRefStm" in tr:  # hybrid-reference file
                    self._load_xref_stream(int(tr["XRefStm"]))
                for num, entry in pending:
                    self._set(num, entry)
                prev = tr.get("Prev")
                return int(prev) if prev is not None else None
            m = re.match(rb"(\d+)\s+(\d+)", data[i:i + 40])
            if not m:
                raise ValueError("bad xref subsection")
            start, count = int(m.group(1)), int(m.group(2))
            i = _skip_ws(data, i + m.end())
            for k in range(count):
                ent = data[i:i + 20]
                if ent[17:18] == b"n":
                    pending.append((start + k, ("o", int(ent[0:10]), 0)))
                elif ent[17:18] == b"f":
                    # Free entries become tombstones: under the
                    # first-seen-wins /Prev walk they shadow older
                    # in-use entries, so an object freed by a newer
                    # incremental update cannot resurrect from an older
                    # xref section.
                    pending.append((start + k, ("f", 0, 0)))
                i += 20

    def _load_xref_stream(self, i: int) -> Optional[int]:
        obj = self._parse_at(i)
        if not isinstance(obj, _Stream) or obj.dict.get("Type") != "XRef":
            raise ValueError("expected xref stream")
        body = self._decode_stream(obj)
        w = [int(x) for x in obj.dict["W"]]
        size = int(obj.dict["Size"])
        index = obj.dict.get("Index", [0, size])
        rowlen = sum(w)
        pos = 0
        for s in range(0, len(index), 2):
            start, count = int(index[s]), int(index[s + 1])
            for k in range(count):
                row = body[pos:pos + rowlen]
                pos += rowlen
                fields = []
                off = 0
                for width in w:
                    fields.append(
                        int.from_bytes(row[off:off + width], "big")
                        if width else None)
                    off += width
                typ = fields[0] if w[0] else 1
                if typ == 1:
                    self._set(start + k, ("o", fields[1], 0))
                elif typ == 2:
                    self._set(start + k, ("c", fields[1], fields[2]))
                elif typ == 0:
                    # free-entry tombstone (see _load_xref_table)
                    self._set(start + k, ("f", 0, 0))
        for key, v in obj.dict.items():
            if key not in ("W", "Index", "Type", "Length", "Filter",
                           "DecodeParms"):
                self.trailer.setdefault(key, v)
        prev = obj.dict.get("Prev")
        return int(prev) if prev is not None else None

    def _brute_scan(self) -> None:
        """Fallback: every ``N G obj`` in file order; later definitions
        (incremental updates) override earlier ones."""
        self.xref.clear()
        self._cache.clear()
        for m in _OBJ_RE.finditer(self.data):
            self.xref[int(m.group(1))] = ("o", m.start(1), 0)
        if "Root" not in self.trailer:
            t = self.data.rfind(b"trailer")
            if t >= 0:
                try:
                    tr, _ = _parse_object(self.data, t + 7)
                    self.trailer.update(tr)
                except Exception:
                    pass
        if "Root" not in self.trailer:
            for num in list(self.xref):
                obj = self.get(num)
                d = obj.dict if isinstance(obj, _Stream) else obj
                if isinstance(d, dict) and d.get("Type") == "Catalog":
                    self.trailer["Root"] = Ref(num, 0)
                    break

    # -- objects ------------------------------------------------------
    def _parse_at(self, i: int):
        data = self.data
        i = _skip_ws(data, i)
        m = re.match(rb"(\d+)\s+(\d+)\s+obj", data[i:i + 40])
        if not m:
            raise ValueError(f"pdf: no object header at byte {i}")
        num, gen = int(m.group(1)), int(m.group(2))
        val, j = _parse_object(data, i + m.end())
        j = _skip_ws(data, j)
        if isinstance(val, dict) and data[j:j + 6] == b"stream":
            j += 6
            if data[j:j + 2] == b"\r\n":
                j += 2
            elif data[j:j + 1] in (b"\n", b"\r"):
                j += 1
            length = self.resolve(val.get("Length"))
            if isinstance(length, int):
                raw = data[j:j + length]
            else:  # damaged /Length: scan for endstream
                end = data.index(b"endstream", j)
                raw = data[j:end].rstrip(b"\r\n")
            if self._enc and self._enc.get("strings", True):
                val = _decrypt_strings(
                    val, lambda b: self._decrypt(b, num, gen))
            return _Stream(val, raw, num, gen)
        if self._enc and self._enc.get("strings", True):
            val = _decrypt_strings(val, lambda b: self._decrypt(b, num, gen))
        return val

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        ent = self.xref.get(num)
        if ent is None or ent[0] == "f":  # absent or freed (tombstone)
            return None
        self._cache[num] = None  # cycle guard
        if ent[0] == "o":
            val = self._parse_at(ent[1])
        else:  # 'c': inside object stream ent[1], index ent[2]
            val = self._from_objstm(ent[1], ent[2], num)
        self._cache[num] = val
        return val

    def _from_objstm(self, stm_num: int, idx: int, want: int):
        stm = self.get(stm_num)
        if not isinstance(stm, _Stream) or stm.dict.get("Type") != "ObjStm":
            raise ValueError("bad ObjStm reference")
        body = self._decode_stream(stm)
        n = int(self.resolve(stm.dict["N"]))
        first = int(self.resolve(stm.dict["First"]))
        pairs = []
        i = 0
        for _ in range(n):
            m1 = _NUM_RE.match(body, _skip_ws(body, i))
            m2 = _NUM_RE.match(body, _skip_ws(body, m1.end()))
            pairs.append((int(m1.group(0)), int(m2.group(0))))
            i = m2.end()
        num, off = pairs[idx] if 0 <= idx < len(pairs) else (None, None)
        if num != want:  # index mismatch: search by object number
            off = next((o for (nn, o) in pairs if nn == want), None)
            if off is None:
                # ObjStm /Extends chain (§7.5.7): the object may live
                # in the stream this one extends
                ext = stm.dict.get("Extends")
                if isinstance(ext, Ref):
                    return self._from_objstm(ext.num, -1, want)
                raise ValueError(
                    f"pdf: object {want} not in ObjStm {stm_num}")
        val, _ = _parse_object(body, first + off)
        return val

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, Ref) and depth < 32:
            obj = self.get(obj.num)
            depth += 1
        return obj

    # -- streams ------------------------------------------------------
    def _decode_stream(self, stm: _Stream) -> bytes:
        data, _ = self._apply_filters(stm)
        return data

    def _apply_filters(self, stm: _Stream,
                       stop_at: tuple = ()) -> tuple[bytes, Optional[str]]:
        """Decrypt + run the filter chain.  A filter named in
        ``stop_at`` (terminal image codecs like DCTDecode, whose
        output is the useful artifact) ends the chain early: returns
        (bytes, that filter's name); otherwise (fully decoded bytes,
        None)."""
        data = stm.raw
        # cross-reference streams are never encrypted (they must be
        # readable before the key exists, §7.5.8.2)
        if self._enc and self._enc.get("streams", True) \
                and stm.dict.get("Type") != "XRef":
            data = self._decrypt(data, stm.num, stm.gen)
        filters = self.resolve(stm.dict.get("Filter"))
        if filters is None:
            return data, None
        if not isinstance(filters, list):
            filters = [filters]
        parms = self.resolve(stm.dict.get("DecodeParms"))
        if not isinstance(parms, list):
            parms = [parms] * len(filters)
        for filt, pp in zip(filters, parms):
            name = str(filt)
            if name in stop_at:
                return data, name
            pp = self.resolve(pp)
            if name == "FlateDecode":
                data = zlib.decompress(data)
            elif name == "ASCIIHexDecode":
                hx = re.sub(rb"[^0-9A-Fa-f]", b"",
                            data.split(b">")[0])
                if len(hx) % 2:
                    hx += b"0"
                data = bytes.fromhex(hx.decode("ascii"))
            elif name == "ASCII85Decode":
                data = _ascii85_decode(data)
            elif name == "LZWDecode":
                ec = 1
                if isinstance(pp, dict):
                    ec = int(self.resolve(pp.get("EarlyChange", 1)) or 1)
                data = _lzw_decode(data, early_change=ec)
            else:
                raise ValueError(f"pdf: unsupported filter {name}")
            if isinstance(pp, dict):
                pred = int(self.resolve(pp.get("Predictor", 1)) or 1)
                if pred >= 10:
                    data = _png_unpredict(
                        data,
                        int(self.resolve(pp.get("Columns", 1))),
                        int(self.resolve(pp.get("Colors", 1))),
                        int(self.resolve(pp.get("BitsPerComponent", 8))),
                    )
        return data, None

    # -- pages --------------------------------------------------------
    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            return []
        out: list[dict] = []

        def walk(node, inherited_res=None, depth=0):
            node = self.resolve(node)
            if isinstance(node, _Stream):
                node = node.dict
            if not isinstance(node, dict) or depth > 64:
                return
            res = node.get("Resources", inherited_res)  # §7.7.3.4 inheritable attr
            if node.get("Type") == "Page":
                if "Resources" not in node and res is not None:
                    node = {**node, "Resources": res}
                out.append(node)
            else:
                for kid in self.resolve(node.get("Kids")) or []:
                    walk(kid, res, depth + 1)

        walk(root.get("Pages"))
        return out

    def info(self) -> dict:
        """Document metadata from the trailer ``/Info`` dictionary
        (Title/Author/Subject…) — provenance columns for the KG
        (scholarly corpora carry the paper title here). String values
        decode with the standard BOM rule."""
        d = self.resolve(self.trailer.get("Info"))
        if not isinstance(d, dict):
            return {}
        out = {}
        for k, v in d.items():
            v = self.resolve(v)
            if isinstance(v, bytes):
                out[str(k)] = _pdf_text(v)
            elif isinstance(v, (str, int, float, bool)):
                out[str(k)] = v
        return out

    def page_fonts(self, page: dict) -> dict:
        """Font name → ToUnicode code map (or None) for one page.
        Real scholarly PDFs embed SUBSET fonts whose string bytes are
        private glyph codes — meaningless without the font's
        ``/ToUnicode`` CMap; this resolves each ``/Resources /Font``
        entry's CMap so the text assembler can decode per-font."""
        res = self.resolve(page.get("Resources")) or {}
        fonts = self.resolve(res.get("Font")) or {}
        if not hasattr(self, "_cmap_cache"):
            self._cmap_cache: dict[int, object] = {}
        out = {}
        for name, ref in fonts.items():
            fd = self.resolve(ref)
            cmap = None
            if isinstance(fd, dict) and "ToUnicode" in fd:
                tu = fd["ToUnicode"]
                key = tu.num if isinstance(tu, Ref) else id(tu)
                if key in self._cmap_cache:  # same font across pages
                    cmap = self._cmap_cache[key]
                else:
                    stm = self.resolve(tu)
                    if isinstance(stm, _Stream):
                        try:
                            cmap = _parse_tounicode(self._decode_stream(stm))
                        except Exception:
                            cmap = None
                    self._cmap_cache[key] = cmap
            elif isinstance(fd, dict):
                enc = fd.get("Encoding")
                enc_name = str(self.resolve(enc) or "")
                if (str(fd.get("Subtype") or "") == "Type0"
                        or enc_name.startswith("Identity")):
                    # Type0/Identity-H without /ToUnicode: 2-byte CIDs
                    # with no Unicode contract — decode to nothing
                    # rather than mojibake (cid flag, see
                    # _decode_with_font)
                    cmap = {"width": 2, "map": {}, "cid": True}
                elif enc is not None:
                    # pdfTeX-style simple font: /Encoding /Differences
                    # glyph names (or a named base encoding), no CMap
                    try:
                        cmap = _simple_font_map(enc, self.resolve)
                    except Exception:
                        cmap = None
            out[name] = cmap
        return out

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if not isinstance(contents, list):
            contents = [contents]
        parts = []
        for c in contents:
            c = self.resolve(c)
            if isinstance(c, _Stream):
                parts.append(self._decode_stream(c))
        return b"\n".join(parts)


# ---------------------------------------------------------------------
# content-stream text assembly
# ---------------------------------------------------------------------

def _pdf_text(b: bytes) -> str:
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", "replace")
    return b.decode("latin-1")


_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f\s]+)>")


def _parse_tounicode(cmap_bytes: bytes) -> dict:
    """/ToUnicode CMap → {"width": code bytes, "map": {code: str}}.
    Handles ``begincodespacerange`` (code width), ``beginbfchar``
    (point mappings) and both ``beginbfrange`` forms (dst-start
    increment and explicit dst array) per PDF 32000 §9.10.3 /
    Adobe CMap spec — destinations are UTF-16BE."""

    def hexes(chunk: bytes) -> list[bytes]:
        return [bytes.fromhex(re.sub(rb"\s", b"", m).decode("ascii"))
                for m in _HEXPAIR_RE.findall(chunk)]

    width = 1
    m = re.search(rb"begincodespacerange(.*?)endcodespacerange",
                  cmap_bytes, re.S)
    if m:
        lo = hexes(m.group(1))
        if lo:
            width = len(lo[0])
    table: dict[int, str] = {}
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", cmap_bytes, re.S):
        hs = hexes(m.group(1))
        for i in range(0, len(hs) - 1, 2):
            src = int.from_bytes(hs[i], "big")
            table[src] = hs[i + 1].decode("utf-16-be", "replace")
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", cmap_bytes, re.S):
        body = m.group(1)
        # tokenize: hex strings and [ arrays of hex strings ]
        toks = re.findall(rb"<[0-9A-Fa-f\s]+>|\[|\]", body)
        i = 0
        while i < len(toks):
            if toks[i] == b"[" or toks[i] == b"]":
                i += 1
                continue
            if i + 2 >= len(toks):
                break
            lo = int.from_bytes(hexes(toks[i])[0], "big")
            hi = int.from_bytes(hexes(toks[i + 1])[0], "big")
            if toks[i + 2] == b"[":  # explicit destination array
                j = i + 3
                code = lo
                while j < len(toks) and toks[j] != b"]":
                    table[code] = hexes(toks[j])[0].decode(
                        "utf-16-be", "replace")
                    code += 1
                    j += 1
                i = j + 1
            else:  # incrementing destination
                dst = hexes(toks[i + 2])[0]
                base = int.from_bytes(dst, "big")
                for k in range(hi - lo + 1):
                    table[lo + k] = (base + k).to_bytes(
                        max(len(dst), 2), "big").decode("utf-16-be", "replace")
                i += 3
    return {"width": width, "map": table}


# -- simple-font encodings (no /ToUnicode) ----------------------------
# pdfTeX / dvips Type1 output (the reference's arXiv corpus,
# intervention_graph_creation/extract.py:65 globs *.pdf of exactly this
# producer family) maps string bytes through /Encoding /Differences
# arrays of PostScript glyph names, usually with NO /ToUnicode CMap.
# The public Adobe Glyph List is the name→Unicode contract; the table
# below is a compact AGL subset covering Latin text, TeX ligatures and
# punctuation, Latin-1 accents, Greek, and the common math names, plus
# the AGL algorithmic forms (uniXXXX, uXXXXXX, suffixed names).

_AGL: dict[str, str] = {name: chr(cp) for name, cp in {
    "space": 0x20, "exclam": 0x21, "quotedbl": 0x22, "numbersign": 0x23,
    "dollar": 0x24, "percent": 0x25, "ampersand": 0x26,
    "quotesingle": 0x27, "parenleft": 0x28, "parenright": 0x29,
    "asterisk": 0x2A, "plus": 0x2B, "comma": 0x2C, "hyphen": 0x2D,
    "period": 0x2E, "slash": 0x2F, "zero": 0x30, "one": 0x31,
    "two": 0x32, "three": 0x33, "four": 0x34, "five": 0x35, "six": 0x36,
    "seven": 0x37, "eight": 0x38, "nine": 0x39, "colon": 0x3A,
    "semicolon": 0x3B, "less": 0x3C, "equal": 0x3D, "greater": 0x3E,
    "question": 0x3F, "at": 0x40, "bracketleft": 0x5B, "backslash": 0x5C,
    "bracketright": 0x5D, "asciicircum": 0x5E, "underscore": 0x5F,
    "grave": 0x60, "braceleft": 0x7B, "bar": 0x7C, "braceright": 0x7D,
    "asciitilde": 0x7E,
    # typographic (TeX's favourites)
    "quoteleft": 0x2018, "quoteright": 0x2019, "quotedblleft": 0x201C,
    "quotedblright": 0x201D, "quotesinglbase": 0x201A,
    "quotedblbase": 0x201E, "endash": 0x2013, "emdash": 0x2014,
    "bullet": 0x2022, "dagger": 0x2020, "daggerdbl": 0x2021,
    "ellipsis": 0x2026, "perthousand": 0x2030, "guilsinglleft": 0x2039,
    "guilsinglright": 0x203A, "guillemotleft": 0xAB,
    "guillemotright": 0xBB, "exclamdown": 0xA1, "questiondown": 0xBF,
    "section": 0xA7, "paragraph": 0xB6, "copyright": 0xA9,
    "registered": 0xAE, "trademark": 0x2122, "degree": 0xB0,
    "plusminus": 0xB1, "multiply": 0xD7, "divide": 0xF7,
    "minus": 0x2212, "fraction": 0x2044, "florin": 0x192, "cent": 0xA2,
    "sterling": 0xA3, "yen": 0xA5, "currency": 0xA4, "Euro": 0x20AC,
    "brokenbar": 0xA6, "ordfeminine": 0xAA, "ordmasculine": 0xBA,
    "logicalnot": 0xAC, "macron": 0xAF, "acute": 0xB4, "dieresis": 0xA8,
    "cedilla": 0xB8, "circumflex": 0x2C6, "tilde": 0x2DC,
    "caron": 0x2C7, "breve": 0x2D8, "dotaccent": 0x2D9, "ring": 0x2DA,
    "hungarumlaut": 0x2DD, "ogonek": 0x2DB, "periodcentered": 0xB7,
    "onequarter": 0xBC, "onehalf": 0xBD, "threequarters": 0xBE,
    "onesuperior": 0xB9, "twosuperior": 0xB2, "threesuperior": 0xB3,
    # ligatures
    "ff": 0xFB00, "fi": 0xFB01, "fl": 0xFB02, "ffi": 0xFB03,
    "ffl": 0xFB04,
    # Latin accents (AGL names = Latin-1/2 repertoire)
    "Aacute": 0xC1, "aacute": 0xE1, "Agrave": 0xC0, "agrave": 0xE0,
    "Acircumflex": 0xC2, "acircumflex": 0xE2, "Adieresis": 0xC4,
    "adieresis": 0xE4, "Atilde": 0xC3, "atilde": 0xE3, "Aring": 0xC5,
    "aring": 0xE5, "AE": 0xC6, "ae": 0xE6, "Ccedilla": 0xC7,
    "ccedilla": 0xE7, "Eacute": 0xC9, "eacute": 0xE9, "Egrave": 0xC8,
    "egrave": 0xE8, "Ecircumflex": 0xCA, "ecircumflex": 0xEA,
    "Edieresis": 0xCB, "edieresis": 0xEB, "Iacute": 0xCD,
    "iacute": 0xED, "Igrave": 0xCC, "igrave": 0xEC, "Icircumflex": 0xCE,
    "icircumflex": 0xEE, "Idieresis": 0xCF, "idieresis": 0xEF,
    "Eth": 0xD0, "eth": 0xF0, "Ntilde": 0xD1, "ntilde": 0xF1,
    "Oacute": 0xD3, "oacute": 0xF3, "Ograve": 0xD2, "ograve": 0xF2,
    "Ocircumflex": 0xD4, "ocircumflex": 0xF4, "Odieresis": 0xD6,
    "odieresis": 0xF6, "Otilde": 0xD5, "otilde": 0xF5, "Oslash": 0xD8,
    "oslash": 0xF8, "Uacute": 0xDA, "uacute": 0xFA, "Ugrave": 0xD9,
    "ugrave": 0xF9, "Ucircumflex": 0xDB, "ucircumflex": 0xFB,
    "Udieresis": 0xDC, "udieresis": 0xFC, "Yacute": 0xDD,
    "yacute": 0xFD, "Thorn": 0xDE, "thorn": 0xFE, "germandbls": 0xDF,
    "ydieresis": 0xFF, "Ydieresis": 0x178, "Scaron": 0x160,
    "scaron": 0x161, "Zcaron": 0x17D, "zcaron": 0x17E, "OE": 0x152,
    "oe": 0x153, "Lslash": 0x141, "lslash": 0x142, "dotlessi": 0x131,
    "mu": 0x3BC,
    # Greek (math mode in papers)
    "alpha": 0x3B1, "beta": 0x3B2, "gamma": 0x3B3, "delta": 0x3B4,
    "epsilon": 0x3B5, "zeta": 0x3B6, "eta": 0x3B7, "theta": 0x3B8,
    "iota": 0x3B9, "kappa": 0x3BA, "lambda": 0x3BB, "nu": 0x3BD,
    "xi": 0x3BE, "omicron": 0x3BF, "pi": 0x3C0, "rho": 0x3C1,
    "sigma": 0x3C3, "sigma1": 0x3C2, "tau": 0x3C4, "upsilon": 0x3C5,
    "phi": 0x3C6, "phi1": 0x3D5, "chi": 0x3C7, "psi": 0x3C8,
    "omega": 0x3C9, "omega1": 0x3D6, "theta1": 0x3D1, "Gamma": 0x393,
    "Delta": 0x394, "Theta": 0x398, "Lambda": 0x39B, "Xi": 0x39E,
    "Pi": 0x3A0, "Sigma": 0x3A3, "Upsilon": 0x3A5, "Phi": 0x3A6,
    "Psi": 0x3A8, "Omega": 0x3A9,
    # math
    "infinity": 0x221E, "partialdiff": 0x2202, "summation": 0x2211,
    "product": 0x220F, "integral": 0x222B, "radical": 0x221A,
    "approxequal": 0x2248, "notequal": 0x2260, "lessequal": 0x2264,
    "greaterequal": 0x2265, "element": 0x2208, "arrowright": 0x2192,
    "arrowleft": 0x2190, "arrowup": 0x2191, "arrowdown": 0x2193,
    "arrowboth": 0x2194, "gradient": 0x2207, "proportional": 0x221D,
    "therefore": 0x2234, "asteriskmath": 0x2217, "emptyset": 0x2205,
    "intersection": 0x2229, "union": 0x222A, "propersubset": 0x2282,
    "propersuperset": 0x2283, "logicaland": 0x2227,
    "logicalor": 0x2228, "perpendicular": 0x22A5, "angle": 0x2220,
}.items()}
_AGL.update({c: c for c in
             "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"})

_UNI_NAME_RE = re.compile(r"uni((?:[0-9A-Fa-f]{4})+)$")
_U_NAME_RE = re.compile(r"u([0-9A-Fa-f]{4,6})$")


def _glyph_to_text(name: str) -> Optional[str]:
    """AGL name→Unicode: direct table hit, subset-suffix strip
    (``a.sc``, ``fi.alt``), and the algorithmic ``uniXXXX`` /
    ``uXXXXXX`` forms."""
    if name in _AGL:
        return _AGL[name]
    base = name.split(".", 1)[0]
    if base != name and base in _AGL:
        return _AGL[base]
    m = _UNI_NAME_RE.fullmatch(base)
    if m:
        hx = m.group(1)
        cps = [int(hx[i:i + 4], 16) for i in range(0, len(hx), 4)]
        # AGL excludes surrogate values from uniXXXX; a lone surrogate
        # would also crash the Arrow string conversion of the WHOLE
        # mapInPandas batch instead of quarantining one bad PDF
        if any(0xD800 <= cp <= 0xDFFF for cp in cps):
            return None
        return "".join(chr(cp) for cp in cps)
    m = _U_NAME_RE.fullmatch(base)
    if m:
        cp = int(m.group(1), 16)
        if 0xD800 <= cp <= 0xDFFF or cp >= 0x110000:
            return None
        return chr(cp)
    return None


def _base_encoding_table(name: Optional[str]) -> dict[int, str]:
    """256-slot base table for a simple font: WinAnsi = cp1252,
    MacRoman = mac_roman, default/Standard ≈ Latin-1 (the parser's
    historical fallback, right for the printable ASCII core)."""
    codec = {"WinAnsiEncoding": "cp1252",
             "MacRomanEncoding": "mac_roman"}.get(str(name or ""), "latin-1")
    table = {}
    for code in range(256):
        try:
            table[code] = bytes([code]).decode(codec)
        except UnicodeDecodeError:
            table[code] = chr(code)
    return table


def _simple_font_map(enc, resolve) -> Optional[dict]:
    """Font-dict ``/Encoding`` (name or dict with ``/BaseEncoding`` +
    ``/Differences``) → a width-1 code map.  ``/Differences`` is the
    PDF 32000 §9.6.6 run-length form: an integer start code followed
    by glyph names, repeating."""
    enc = resolve(enc)
    if isinstance(enc, Name):
        if str(enc) in ("WinAnsiEncoding", "MacRomanEncoding"):
            return {"width": 1, "map": _base_encoding_table(str(enc))}
        return None  # StandardEncoding etc. — Latin-1 fallback is fine
    if not isinstance(enc, dict):
        return None
    table = _base_encoding_table(
        str(resolve(enc.get("BaseEncoding")) or "") or None)
    diffs = resolve(enc.get("Differences"))
    if isinstance(diffs, list):
        code = 0
        for el in diffs:
            el = resolve(el)
            if isinstance(el, (int, float)):
                code = int(el)
            elif isinstance(el, Name):
                txt = _glyph_to_text(str(el))
                if txt is not None:
                    table[code] = txt
                code += 1
    return {"width": 1, "map": table}


def _decode_with_font(b: bytes, font) -> str:
    """String bytes → text under the current font: split into
    code units of the CMap's width and map each through /ToUnicode;
    unmapped codes fall back to their Latin-1 byte meaning."""
    if not font:
        return _pdf_text(b)
    w, table = font["width"], font["map"]
    cid = font.get("cid", False)
    out = []
    for i in range(0, len(b) - w + 1, w):
        code = int.from_bytes(b[i:i + w], "big")
        hit = table.get(code)
        if hit is not None:
            out.append(hit)
        elif cid:
            # Identity-H CIDs without /ToUnicode are private glyph
            # indices — emitting chr(cid) would be mojibake, so emit
            # nothing (matches pdfminer's CID-no-unicode behavior)
            continue
        else:
            # surrogate guard: a lone chr(0xD800..0xDFFF) would crash
            # the Arrow conversion of the whole batch downstream
            ok = code < 0x110000 and not (0xD800 <= code <= 0xDFFF)
            out.append(chr(code) if ok else "")
    return "".join(out)


def _skip_inline_image(content: bytes, i: int) -> int:
    """Skip a ``BI … ID <binary> EI`` inline image starting just after
    the ``BI`` token.  The binary payload can legally contain the bytes
    ``EI`` (it's compressed or raster data), so a bare ``find(b"EI")``
    truncates mid-image and the scanner then mis-parses raster bytes as
    operators; the standard heuristic (pdfminer does the same) accepts
    an ``EI`` only when delimited by whitespace on the left and
    whitespace/EOF on the right."""
    n = len(content)
    k = content.find(b"ID", i)
    if k < 0:
        return n
    j = k + 2
    if j < n and content[j] in _WS:  # single EOL/space after ID
        j += 1
    while True:
        k = content.find(b"EI", j)
        if k < 0:
            return n
        before_ws = k > 0 and content[k - 1] in _WS
        after = content[k + 2:k + 3]
        after_ok = after == b"" or after[0] in _WS or after[0] in _DELIM
        if before_ws and after_ok:
            return k + 2
        j = k + 2


_LINE_OPS = frozenset((b"Td", b"TD", b"T*", b"Tm", b"BT"))
_KERN_SPACE = -180  # thousandths of an em; larger negative kern = word gap


def _content_text(content: bytes, fonts: dict | None = None) -> str:
    out: list[str] = []
    operands: list = []
    pending_nl = False
    shown = False
    cur_font = None  # active /ToUnicode map, switched by Tf
    n = len(content)
    i = 0

    def show(txt: str) -> None:
        nonlocal pending_nl, shown
        if not txt:
            return
        if shown and pending_nl:
            out.append("\n")
        out.append(txt)
        shown = True
        pending_nl = False

    while i < n:
        i = _skip_ws(content, i)
        if i >= n:
            break
        c = content[i]
        if c in b"(<[/" or c in b"+-." or 0x30 <= c <= 0x39:
            try:
                val, i = _parse_object(content, i)
            except Exception:
                i += 1
                continue
            operands.append(val)
            continue
        j = i
        while j < n and content[j] not in _WS and content[j] not in _DELIM:
            j += 1
        op = content[i:j]
        i = j if j > i else i + 1
        if op == b"Tj" and operands and isinstance(operands[-1], bytes):
            show(_decode_with_font(operands[-1], cur_font))
        elif op == b"TJ" and operands and isinstance(operands[-1], list):
            buf = []
            for el in operands[-1]:
                if isinstance(el, bytes):
                    buf.append(_decode_with_font(el, cur_font))
                elif isinstance(el, (int, float)) and el <= _KERN_SPACE:
                    buf.append(" ")
            show("".join(buf))
        elif op in (b"'", b'"'):
            pending_nl = True
            if operands and isinstance(operands[-1], bytes):
                show(_decode_with_font(operands[-1], cur_font))
        elif op == b"Tf" and fonts and len(operands) >= 2:
            cur_font = fonts.get(str(operands[-2]))
        elif op in _LINE_OPS:
            if op in (b"Td", b"TD"):
                # only a vertical move is a new line
                ty = operands[-1] if operands else 0
                if isinstance(ty, (int, float)) and ty != 0:
                    pending_nl = True
            else:
                pending_nl = True
        elif op == b"BI":  # inline image (BI <dict> ID <binary> EI)
            i = _skip_inline_image(content, i)
        operands = []
    return "".join(out)


def extract_pdf_text(data: bytes) -> str:
    """PDF bytes → extracted text; pages joined with newlines.
    Per-page fonts' /ToUnicode CMaps decode subset-font glyph codes."""
    doc = PdfDocument(data)
    pages = doc.pages()
    texts = [
        _content_text(doc.page_content(p), doc.page_fonts(p)) for p in pages
    ]
    return "\n".join(t for t in texts)


def pdf_page_count(data: bytes) -> int:
    return len(PdfDocument(data).pages())


# ---------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------

PDF_DOC_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("doc_text", StringType(), True),
    StructField("n_pages", IntegerType(), True),
    StructField("title", StringType(), True),     # trailer /Info provenance
    StructField("author", StringType(), True),
    # null on success; classified quarantine reason on failure
    # (undecodable_document | encrypted_pdf | encrypted_pdf_unsupported)
    StructField("decode_error", StringType(), True),
])


def _classify_decode_error(exc: Exception) -> str:
    """Quarantine reason taxonomy: operators should be able to tell a
    policy problem (encryption) from a parse failure at a glance."""
    msg = str(exc)
    if "password protected" in msg:
        return "encrypted_pdf"
    if ("unsupported encryption" in msg or "unsupported security" in msg
            or "malformed /Encrypt" in msg):
        # a broken/exotic /Encrypt is an encryption-policy problem for
        # triage purposes, not a parse failure
        return "encrypted_pdf_unsupported"
    return "undecodable_document"


def decode_pdf_text(files: DataFrame, with_images: bool = False) -> DataFrame:
    """(doc_id, content) binaryFile rows → (conv_id, doc_text, n_pages)
    via Arrow-batched ``mapInPandas``; per-file decode runs where the
    bytes already are (no shuffle — the scan's file splits are the
    parallelism), and an undecodable file yields null text plus a
    classified ``decode_error`` reason instead of failing the stage
    (quarantine-style).

    ``with_images=True`` adds an ``images`` array<struct> column from
    the SAME parse — when a pipeline needs both text and embedded
    images, one scan + one xref walk per file serves both outputs
    instead of reading the whole corpus twice (the split into rows
    happens relationally downstream via ``explode``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts: list[Optional[str]] = []
            npages: list[Optional[int]] = []
            titles: list[Optional[str]] = []
            authors: list[Optional[str]] = []
            errors: list[Optional[str]] = []
            images: list[Optional[list]] = []
            for blob in pdf["content"]:
                # compute the full row FIRST, append exactly once per
                # file — appending inside the try would misalign the
                # column lists when a later step (e.g. a damaged /Info
                # ref) raises after an earlier append succeeded
                try:
                    doc = PdfDocument(bytes(blob))
                    pages = doc.pages()
                    text = "\n".join(
                        _content_text(doc.page_content(p), doc.page_fonts(p))
                        for p in pages)
                    info = doc.info()
                    imgs = ([{"page_idx": pi, **im}
                             for pi, page in enumerate(pages)
                             for im in iter_page_images(doc, page)]
                            if with_images else None)
                    row = (text, len(pages), info.get("Title"),
                           info.get("Author"), None, imgs)
                except Exception as exc:
                    row = (None, None, None, None,
                           _classify_decode_error(exc), None)
                texts.append(row[0])
                npages.append(row[1])
                titles.append(row[2])
                authors.append(row[3])
                errors.append(row[4])
                images.append(row[5])
            cols = {
                "conv_id": pdf["doc_id"].astype(str),
                "doc_text": pd.array(texts, dtype="string"),
                "n_pages": pd.array(npages, dtype="Int32"),
                "title": pd.array(titles, dtype="string"),
                "author": pd.array(authors, dtype="string"),
                "decode_error": pd.array(errors, dtype="string"),
            }
            if with_images:
                cols["images"] = pd.Series(images, dtype="object")
            yield pd.DataFrame(cols)

    return files.select("doc_id", "content").mapInPandas(
        run, PDF_DOC_IMG_SCHEMA if with_images else PDF_DOC_SCHEMA)


# ---------------------------------------------------------------------
# embedded images → image columns
# ---------------------------------------------------------------------

def iter_page_images(doc: PdfDocument, page: dict) -> list[dict]:
    """One page's /Resources /XObject images as metadata + bytes:
    DCTDecode XObjects pass through as the embedded JFIF bytes,
    unchanged, everything else fully
    defilters to the raw sample bytes described by Width/Height/
    BitsPerComponent/ColorSpace.  Form XObjects are walked for their
    nested images (the common LaTeX/matplotlib figure wrapper); one
    malformed image skips only itself."""
    out: list[dict] = []
    _walk_xobjects(doc, doc.resolve(page.get("Resources")), out, 0, set())
    return out


def _walk_xobjects(doc: PdfDocument, res, out: list, depth: int,
                   seen: set) -> None:
    if depth > 8 or not isinstance(res, dict):
        return
    xo = doc.resolve(res.get("XObject"))
    if not isinstance(xo, dict):
        return
    for name, ref in xo.items():
        try:
            # a form referencing itself (directly or via a cycle) must
            # not re-emit its images once per recursion level
            key = (ref.num, ref.gen) if isinstance(ref, Ref) else id(ref)
            if key in seen:
                continue
            seen.add(key)
            obj = doc.resolve(ref)
            if not isinstance(obj, _Stream):
                continue
            sub = str(obj.dict.get("Subtype"))
            if sub == "Form":  # nested resources carry figure images
                _walk_xobjects(
                    doc, doc.resolve(obj.dict.get("Resources")), out,
                    depth + 1, seen)
                continue
            if sub != "Image":
                continue
            out.append(_image_row(doc, str(name), obj))
            # the alpha channel of a real figure is a SEPARATE gray
            # image hanging off the image dict's /SMask — it is not in
            # any /Resources, so it must be emitted here
            sref = obj.dict.get("SMask")
            if sref is not None:
                skey = (sref.num, sref.gen) if isinstance(sref, Ref) \
                    else id(sref)
                if skey not in seen:
                    seen.add(skey)
                    sm = doc.resolve(sref)
                    if isinstance(sm, _Stream) \
                            and str(sm.dict.get("Subtype")) == "Image":
                        out.append(
                            _image_row(doc, str(name) + ".smask", sm))
        except Exception:
            continue  # one undecodable image skips only itself


def _image_row(doc: PdfDocument, name: str, obj: _Stream) -> dict:
    data, codec = doc._apply_filters(obj, stop_at=("DCTDecode",))
    cs = doc.resolve(obj.dict.get("ColorSpace"))
    mask = doc.resolve(obj.dict.get("ImageMask")) is True
    bits = doc.resolve(obj.dict.get("BitsPerComponent"))
    return {
        "name": name,
        "width": int(doc.resolve(obj.dict.get("Width")) or 0),
        "height": int(doc.resolve(obj.dict.get("Height")) or 0),
        # /ImageMask true implies 1-bit stencil samples
        "bits": int(bits) if bits is not None else (1 if mask else 8),
        "color_space": "ImageMask" if mask else (
            str(cs) if isinstance(cs, (Name, str)) else
            (str(cs[0]) if isinstance(cs, list) and cs else None)),
        "fmt": "jpeg" if codec == "DCTDecode" else "raw",
        "content": data,
    }


PDF_IMAGE_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("page_idx", IntegerType(), True),
    StructField("name", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("bits", IntegerType(), True),
    StructField("color_space", StringType(), True),
    StructField("fmt", StringType(), True),   # jpeg | raw
    StructField("content", BinaryType(), True),
])

# decode_pdf_text(with_images=True): text + images from ONE parse; the
# per-image struct is PDF_IMAGE_SCHEMA minus the file id (the row
# already carries conv_id — explode("images") restores the flat shape)
PDF_DOC_IMG_SCHEMA = StructType(
    PDF_DOC_SCHEMA.fields + [
        StructField("images",
                    ArrayType(StructType(PDF_IMAGE_SCHEMA.fields[1:])),
                    True),
    ])


def extract_pdf_images(files: DataFrame) -> DataFrame:
    """(doc_id, content) binaryFile rows → one row per embedded image
    (opaque ``binary`` payload + typed metadata).  DCTDecode images
    stay JPEG, byte for byte as embedded; ``raw`` rows carry
    defiltered samples with their geometry.  Arrow-batched
    ``mapInPandas``, per-file decode where the bytes are, undecodable
    files contribute zero rows (text-path quarantine already covers
    them)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                # per-FILE atomicity: only emit a file's rows once the
                # whole document walked — partial rows would make the
                # resume skip treat the file as done and lose the rest
                try:
                    doc = PdfDocument(bytes(blob))
                    file_rows = [
                        {"conv_id": str(doc_id), "page_idx": pi, **im}
                        for pi, page in enumerate(doc.pages())
                        for im in iter_page_images(doc, page)
                    ]
                except Exception:
                    continue
                rows.extend(file_rows)
            yield pd.DataFrame(
                rows, columns=["conv_id", "page_idx", "name", "width",
                               "height", "bits", "color_space", "fmt",
                               "content"])

    return files.select("doc_id", "content").mapInPandas(
        run, PDF_IMAGE_SCHEMA)
