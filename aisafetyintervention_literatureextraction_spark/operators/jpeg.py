"""Baseline JPEG encoder, pure numpy + stdlib — no PIL/libjpeg.

Fixture writer for the PDF test corpus (``pdfgen.doc_image`` embeds its
output as a /DCTDecode image, which the PDF reader passes through
byte for byte): baseline sequential DCT, Annex K quantization
(quality-scaled) and Annex K Huffman tables, 4:4:4 or 4:2:0, optional
DRI/RSTn restart interval.  The output bytes are pinned by md5 in
tests/test_pdf_foreign.py.

JPEG spec structures (zigzag order, Annex K tables) are public
constants from ITU-T T.81.
"""

from __future__ import annotations

import struct

import numpy as np

# -- public constants from ITU-T T.81 ---------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])

QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64)

QT_CHROM = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32,
    dtype=np.float64,
)

DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))

AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# orthonormal 8-point DCT-II matrix: spatial = D.T @ coeffs @ D
_D = np.array([
    [
        (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
        * np.cos((2 * x + 1) * u * np.pi / 16)
        for x in range(8)
    ]
    for u in range(8)
])


def _encode_table(bits, vals):
    """Canonical Huffman: {symbol: (code, length)}."""
    out = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


# -- encoder (fixture writer) ------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.acc <<= 8 - self.n
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _scaled_qt(base, quality: int):
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    return np.clip(np.floor((base * scale + 50) / 100), 1, 255)


def _encode_block(wr, blk, q, pred, enc_dc, enc_ac):
    coeffs = _D @ (blk - 128.0) @ _D.T
    zz = np.rint(coeffs.reshape(64)[ZIGZAG] / q[ZIGZAG]).astype(int)
    diff = zz[0] - pred
    s = int(abs(diff)).bit_length()
    wr.write(*enc_dc[s])
    if s:
        wr.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            wr.write(*enc_ac[0xF0])  # ZRL
            run -= 16
        sz = abs(v).bit_length()
        wr.write(*enc_ac[(run << 4) | sz])
        wr.write(v if v >= 0 else v + (1 << sz) - 1, sz)
        run = 0
    if run:
        wr.write(*enc_ac[0x00])  # EOB
    return int(zz[0])


def encode_jpeg(img, quality: int = 90, subsampling: str = "444",
                restart_interval: int = 0) -> bytes:
    """uint8 RGB (h, w, 3) → baseline JFIF bytes. ``subsampling`` is
    '444' or '420'; ``restart_interval`` emits DRI/RSTn every N MCUs."""
    img = np.asarray(img, dtype=np.float64)
    h, w = img.shape[:2]
    y = (0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2])
    cb = 128.0 - 0.168736 * img[..., 0] - 0.331264 * img[..., 1] + 0.5 * img[..., 2]
    cr = 128.0 + 0.5 * img[..., 0] - 0.418688 * img[..., 1] - 0.081312 * img[..., 2]
    qly = _scaled_qt(QT_LUM, quality)
    qlc = _scaled_qt(QT_CHROM, quality)
    sub = 2 if subsampling == "420" else 1
    hmax = vmax = sub
    mcu = 8 * sub
    mcux, mcuy = -(-w // mcu), -(-h // mcu)

    def pad(pl, fy, fx):
        ph, pw = mcuy * 8 * fy, mcux * 8 * fx
        out = np.empty((ph, pw))
        out[: pl.shape[0], : pl.shape[1]] = pl
        out[pl.shape[0]:, : pl.shape[1]] = pl[-1:]
        out[:, pl.shape[1]:] = out[:, pl.shape[1] - 1:pl.shape[1]]
        return out

    if sub == 2:  # box-mean chroma downsample (pad odd dims first)
        cbp = pad(cb, vmax, hmax)[: mcuy * 16, : mcux * 16]
        crp = pad(cr, vmax, hmax)[: mcuy * 16, : mcux * 16]
        cb = cbp.reshape(mcuy * 8, 2, mcux * 8, 2).mean(axis=(1, 3))
        cr = crp.reshape(mcuy * 8, 2, mcux * 8, 2).mean(axis=(1, 3))
        yp = pad(y, vmax, hmax)
        cbl, crl = cb, cr
    else:
        yp, cbl, crl = pad(y, 1, 1), pad(cb, 1, 1), pad(cr, 1, 1)

    enc = {
        "dc_l": _encode_table(DC_LUM_BITS, DC_LUM_VALS),
        "ac_l": _encode_table(AC_LUM_BITS, AC_LUM_VALS),
        "dc_c": _encode_table(DC_CHROM_BITS, DC_CHROM_VALS),
        "ac_c": _encode_table(AC_CHROM_BITS, AC_CHROM_VALS),
    }
    wr = _BitWriter()
    chunks: list[bytes] = []
    preds = [0, 0, 0]
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            wr.flush()
            chunks.append(bytes(wr.out) + bytes([0xFF, 0xD0 + (rst & 7)]))
            wr = _BitWriter()
            rst += 1
            preds = [0, 0, 0]
        my, mx = divmod(m, mcux)
        for by in range(vmax):
            for bx in range(hmax):
                y0, x0 = (my * vmax + by) * 8, (mx * hmax + bx) * 8
                preds[0] = _encode_block(
                    wr, yp[y0:y0 + 8, x0:x0 + 8], qly, preds[0],
                    enc["dc_l"], enc["ac_l"],
                )
        for ci, pl in ((1, cbl), (2, crl)):
            y0, x0 = my * 8, mx * 8
            preds[ci] = _encode_block(
                wr, pl[y0:y0 + 8, x0:x0 + 8], qlc, preds[ci],
                enc["dc_c"], enc["ac_c"],
            )
    wr.flush()
    chunks.append(bytes(wr.out))
    ecs = b"".join(chunks)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + bytes(qly[ZIGZAG].astype(np.uint8)))
    out += seg(0xDB, b"\x01" + bytes(qlc[ZIGZAG].astype(np.uint8)))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
    sof += bytes([1, (hmax << 4) | vmax, 0])
    sof += bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += seg(0xC0, sof)
    for tc, th, bits, vals in (
        (0, 0, DC_LUM_BITS, DC_LUM_VALS), (1, 0, AC_LUM_BITS, AC_LUM_VALS),
        (0, 1, DC_CHROM_BITS, DC_CHROM_VALS), (1, 1, AC_CHROM_BITS, AC_CHROM_VALS),
    ):
        out += seg(0xC4, bytes([(tc << 4) | th] + bits + vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += ecs + b"\xff\xd9"
    return bytes(out)
