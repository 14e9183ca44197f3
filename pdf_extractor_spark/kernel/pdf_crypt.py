"""Standard security handler for encrypted PDFs with an EMPTY user
password — the dominant encrypted-PDF population in web crawls
("owner-locked" files that any viewer opens without prompting).

The reference gets this free from PyMuPDF (reference
services/pdf_service.py:16 — `fitz.open` silently decrypts
standard-security files whose user password is empty). Here the handler is
a from-scratch implementation of the spec's algorithms, covering every
standard-security revision real crawls carry:

- **RC4** V ∈ {1, 2}, R ∈ {2, 3} (40–128 bit): ISO 32000-1 §7.6.3
  Algorithms 2/3, U-entry Algorithms 4/5.
- **AES-128-CBC** V = 4 with a /CFM /AESV2 crypt filter, R = 4 (same
  MD5 key schedule as R3; per-object key salted with `sAlT`; 16-byte IV
  prefix + PKCS#7). A V4 filter declaring /CFM /V2 is RC4-128 in
  crypt-filter clothing and decrypts through the RC4 path.
- **AES-256-CBC** V = 5, R ∈ {5, 6} (/CFM /AESV3, ISO 32000-2 §7.6.4):
  the empty password validates against /U's validation salt — plain
  SHA-256 for the deprecated R5, the iterated Algorithm 2.B hash for
  R6 — then /UE decrypts (AES-256-CBC, zero IV, no padding) into the
  file key, which encrypts all objects directly (no per-object rekey).

Both ciphers are pinned by published test vectors (RC4 classics,
FIPS-197 appendix blocks) so the synth-side encrypt twins cannot hide a
mirrored cipher bug, and the /U verification must pass before a single
stream is decrypted — an unknown handler or a real (non-empty) user
password stays an explicit 'encrypted' parse status, never
silently-wrong output.

Per-object keys use generation 0: the regex object scan does not track
generation numbers, and >0 generations essentially do not occur in crawl
PDFs (they require incremental-update chains that re-use freed numbers).
"""

from __future__ import annotations

import re
import struct
from functools import lru_cache
from hashlib import md5, sha256, sha384, sha512

import numpy as np

from pdf_extractor_spark.kernel.pdf_extract import _balanced_dict

# Optional C-speed cipher backend. The from-scratch implementations below
# are the reference semantics and the always-available fallback (this repo
# must run from a bare pyspark image); when the `cryptography` wheel is
# present its OpenSSL AES/RC4 take over the raw cipher transforms —
# ~100× on the R6 Algorithm 2.B KDF, which matters at crawl scale
# (10^12 docs × ~0.15% encrypted ≈ 10^9 files; pure-Python KDF alone
# would be ~10^3 CPU-days). Equality is pinned in tests, which run BOTH
# paths in this environment.
try:  # pragma: no cover - exercised via the equality-pin tests
    from cryptography.hazmat.primitives.ciphers import (
        Cipher as _CgCipher,
        algorithms as _cg_algorithms,
        modes as _cg_modes,
    )

    try:  # RC4 moved to the decrepit module in cryptography >= 43
        from cryptography.hazmat.decrepit.ciphers.algorithms import (
            ARC4 as _CgARC4,
        )
    except ImportError:
        _CgARC4 = getattr(_cg_algorithms, "ARC4", None)
    _HAVE_CG = True
except ImportError:
    _CgCipher = _cg_algorithms = _cg_modes = _CgARC4 = None
    _HAVE_CG = False

# §7.6.3.3 padding string
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)

_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*(<[0-9A-Fa-f\s]*>|\([^)]*\))")
_OBJ_AT_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)\bendobj", re.DOTALL)

_ESC = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


# the only key sizes OpenSSL's ARC4 accepts (bytes); PDF keys are any
# 5–16 bytes, so odd /Length values fall back to the pure path
_ARC4_KEY_SIZES = frozenset((5, 7, 8, 10, 16, 20, 24, 32))


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (KSA + PRGA). Symmetric: encrypt == decrypt. OpenSSL's
    ARC4 takes over when available AND the key length is one it accepts
    (PDF /Length is any multiple of 8 bits — an 11-byte object key is
    legal PDF but not an OpenSSL ARC4 size); other keys and the short
    published-vector keys exercise the pure path, and an equality-pin
    test locks the two together."""
    if _HAVE_CG and _CgARC4 is not None and len(key) in _ARC4_KEY_SIZES:
        enc = _CgCipher(_CgARC4(key), mode=None).encryptor()
        return enc.update(data) + enc.finalize()
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, byte in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = byte ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# --- AES (FIPS-197), 128- and 256-bit keys, CBC mode ------------------------
# From-scratch block cipher: S-box + key expansion + (Inv)MixColumns via
# precomputed GF(2^8) multiplication tables. Pure Python is plenty here —
# encrypted PDFs are a small corpus fraction and each document decrypts a
# handful of short streams.

_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76"
    "ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d83115"
    "04c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f84"
    "53d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa8"
    "51a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d1973"
    "60814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479"
    "e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a"
    "703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df"
    "8ca1890dbfe6426841992d0fb054bb16"
)
_INV_SBOX = bytearray(256)
for _i, _v in enumerate(_SBOX):
    _INV_SBOX[_v] = _i
_INV_SBOX = bytes(_INV_SBOX)


def _gmul_table(c: int) -> bytes:
    """GF(2^8) multiply-by-c lookup table (AES polynomial x^8+x^4+x^3+x+1)."""
    t = bytearray(256)
    for i in range(256):
        a, b, p = i, c, 0
        while b:
            if b & 1:
                p ^= a
            hi = a & 0x80
            a = (a << 1) & 0xFF
            if hi:
                a ^= 0x1B
            b >>= 1
        t[i] = p
    return bytes(t)


_M2, _M3 = _gmul_table(2), _gmul_table(3)
_M9, _M11, _M13, _M14 = (_gmul_table(c) for c in (9, 11, 13, 14))
_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36, 0x6C, 0xD8, 0xAB, 0x4D)
# ShiftRows as a flat index permutation over the column-major state
# (state[r + 4c]): out[i] = in[_SHIFT[i]]
_SHIFT = tuple((i % 4) + 4 * (((i // 4) + (i % 4)) % 4) for i in range(16))
_INV_SHIFT = tuple((i % 4) + 4 * (((i // 4) - (i % 4)) % 4) for i in range(16))


def _aes_expand(key: bytes) -> "list[bytes]":
    """Key expansion → list of 16-byte round keys (11 for AES-128, 15 for
    AES-256)."""
    nk = len(key) // 4
    rounds = {4: 10, 8: 14}[nk]
    w = [key[4 * i : 4 * i + 4] for i in range(nk)]
    for i in range(nk, 4 * (rounds + 1)):
        t = w[i - 1]
        if i % nk == 0:
            t = bytes(
                (_SBOX[t[1]] ^ _RCON[i // nk - 1], _SBOX[t[2]], _SBOX[t[3]], _SBOX[t[0]])
            )
        elif nk == 8 and i % nk == 4:
            t = bytes(_SBOX[b] for b in t)
        w.append(bytes(a ^ b for a, b in zip(w[i - nk], t)))
    return [b"".join(w[4 * r : 4 * r + 4]) for r in range(rounds + 1)]


# forward T-tables: SubBytes + ShiftRows + MixColumns folded into four
# 32-bit lookups per output column — the R6 Algorithm 2.B hash CBC-encrypts
# kilobytes per iteration, so the forward cipher is the one hot path worth
# the classic table form (~6× over the schoolbook rounds)
_T0 = [0] * 256
_T1 = [0] * 256
_T2 = [0] * 256
_T3 = [0] * 256
for _x in range(256):
    _s = _SBOX[_x]
    _T0[_x] = (_M2[_s] << 24) | (_s << 16) | (_s << 8) | _M3[_s]
    _T1[_x] = (_M3[_s] << 24) | (_M2[_s] << 16) | (_s << 8) | _s
    _T2[_x] = (_s << 24) | (_M3[_s] << 16) | (_M2[_s] << 8) | _s
    _T3[_x] = (_s << 24) | (_s << 16) | (_M3[_s] << 8) | _M2[_s]


def _rk_words(rk: "list[bytes]") -> "list[tuple[int, int, int, int]]":
    return [
        tuple(int.from_bytes(k[i : i + 4], "big") for i in (0, 4, 8, 12))
        for k in rk
    ]


def _encrypt_words(rkw, w0: int, w1: int, w2: int, w3: int):
    """One block through the forward cipher, state as 4 column words."""
    k = rkw[0]
    w0 ^= k[0]
    w1 ^= k[1]
    w2 ^= k[2]
    w3 ^= k[3]
    for r in range(1, len(rkw) - 1):
        k = rkw[r]
        n0 = _T0[w0 >> 24] ^ _T1[(w1 >> 16) & 255] ^ _T2[(w2 >> 8) & 255] ^ _T3[w3 & 255] ^ k[0]
        n1 = _T0[w1 >> 24] ^ _T1[(w2 >> 16) & 255] ^ _T2[(w3 >> 8) & 255] ^ _T3[w0 & 255] ^ k[1]
        n2 = _T0[w2 >> 24] ^ _T1[(w3 >> 16) & 255] ^ _T2[(w0 >> 8) & 255] ^ _T3[w1 & 255] ^ k[2]
        n3 = _T0[w3 >> 24] ^ _T1[(w0 >> 16) & 255] ^ _T2[(w1 >> 8) & 255] ^ _T3[w2 & 255] ^ k[3]
        w0, w1, w2, w3 = n0, n1, n2, n3
    k = rkw[-1]
    s = _SBOX
    return (
        ((s[w0 >> 24] << 24) | (s[(w1 >> 16) & 255] << 16) | (s[(w2 >> 8) & 255] << 8) | s[w3 & 255]) ^ k[0],
        ((s[w1 >> 24] << 24) | (s[(w2 >> 16) & 255] << 16) | (s[(w3 >> 8) & 255] << 8) | s[w0 & 255]) ^ k[1],
        ((s[w2 >> 24] << 24) | (s[(w3 >> 16) & 255] << 16) | (s[(w0 >> 8) & 255] << 8) | s[w1 & 255]) ^ k[2],
        ((s[w3 >> 24] << 24) | (s[(w0 >> 16) & 255] << 16) | (s[(w1 >> 8) & 255] << 8) | s[w2 & 255]) ^ k[3],
    )


def _aes_encrypt_block(rk: "list[bytes]", block: bytes) -> bytes:
    w = _encrypt_words(
        _rk_words(rk),
        int.from_bytes(block[0:4], "big"),
        int.from_bytes(block[4:8], "big"),
        int.from_bytes(block[8:12], "big"),
        int.from_bytes(block[12:16], "big"),
    )
    return b"".join(x.to_bytes(4, "big") for x in w)


# inverse cipher, numpy-vectorized across blocks: unlike CBC *encryption*
# (an unbreakable sequential chain — each block's input XORs the previous
# ciphertext), CBC *decryption* is embarrassingly parallel: every block is
# independently ECB-decrypted and only then XORed with the (already known)
# previous ciphertext block. So one vectorized inverse-cipher pass over all
# blocks + one shifted XOR replaces the per-block Python loop — ~40× on
# multi-KB streams, which is what makes decrypting a crawl's AES-encrypted
# PDFs affordable inside the Arrow kernel.
_NP_INV_SBOX = np.frombuffer(_INV_SBOX, dtype=np.uint8)
_NP_M9, _NP_M11, _NP_M13, _NP_M14 = (
    np.frombuffer(t, dtype=np.uint8) for t in (_M9, _M11, _M13, _M14)
)
_NP_INV_SHIFT = np.array(_INV_SHIFT, dtype=np.intp)


def _aes_ecb_decrypt_np(rk: "list[bytes]", data: bytes) -> "np.ndarray":
    """All blocks of `data` through the inverse cipher at once → uint8
    array of shape (n_blocks, 16). Caller handles the CBC XOR."""
    s = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    rks = [np.frombuffer(k, dtype=np.uint8) for k in rk]
    s = s ^ rks[-1]
    for r in range(len(rk) - 2, 0, -1):
        s = _NP_INV_SBOX[s[:, _NP_INV_SHIFT]] ^ rks[r]  # InvShift+InvSub+ARK
        a0, a1, a2, a3 = s[:, 0::4], s[:, 1::4], s[:, 2::4], s[:, 3::4]
        m = np.empty_like(s)
        m[:, 0::4] = _NP_M14[a0] ^ _NP_M11[a1] ^ _NP_M13[a2] ^ _NP_M9[a3]
        m[:, 1::4] = _NP_M9[a0] ^ _NP_M14[a1] ^ _NP_M11[a2] ^ _NP_M13[a3]
        m[:, 2::4] = _NP_M13[a0] ^ _NP_M9[a1] ^ _NP_M14[a2] ^ _NP_M11[a3]
        m[:, 3::4] = _NP_M11[a0] ^ _NP_M13[a1] ^ _NP_M9[a2] ^ _NP_M14[a3]
        s = m
    return _NP_INV_SBOX[s[:, _NP_INV_SHIFT]] ^ rks[0]


def _aes_decrypt_block(rk: "list[bytes]", block: bytes) -> bytes:
    s = bytes(a ^ b for a, b in zip(block, rk[-1]))
    for r in range(len(rk) - 2, 0, -1):
        s = bytes(_INV_SBOX[s[j]] for j in _INV_SHIFT)  # InvShiftRows+InvSub
        s = bytes(a ^ b for a, b in zip(s, rk[r]))
        m = bytearray(16)
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = s[c : c + 4]
            m[c] = _M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]
            m[c + 1] = _M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]
            m[c + 2] = _M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]
            m[c + 3] = _M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3]
        s = bytes(m)
    s = bytes(_INV_SBOX[s[j]] for j in _INV_SHIFT)
    return bytes(a ^ b for a, b in zip(s, rk[0]))


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes, pad: bool = True) -> bytes:
    """CBC encrypt (synth-twin side). PKCS#7 pads by default; pad=False
    requires block-aligned input (the /UE, /OE, Perms entries)."""
    if pad:
        n = 16 - len(data) % 16
        data += bytes([n]) * n
    elif len(data) % 16:
        raise ValueError("unpadded CBC input must be block-aligned")
    if _HAVE_CG:
        enc = _CgCipher(
            _cg_algorithms.AES(key), _cg_modes.CBC(iv[:16])
        ).encryptor()
        return enc.update(data) + enc.finalize()
    rkw = _rk_words(_aes_expand(key))
    nw = len(data) // 4
    # one unpack/pack for the whole stream instead of four slices +
    # int.from_bytes/to_bytes per block — the chain itself is inherently
    # sequential (the R6 KDF hot path), so shaving per-block Python
    # overhead is all that's available here
    words = struct.unpack(f">{nw}I", data)
    c0, c1, c2, c3 = struct.unpack(">4I", iv[:16])
    out = []
    enc = _encrypt_words
    for i in range(0, nw, 4):
        c0, c1, c2, c3 = enc(
            rkw, c0 ^ words[i], c1 ^ words[i + 1], c2 ^ words[i + 2], c3 ^ words[i + 3]
        )
        out.append(c0)
        out.append(c1)
        out.append(c2)
        out.append(c3)
    return struct.pack(f">{nw}I", *out)


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes, unpad: bool = True) -> bytes | None:
    """CBC decrypt. Returns None for malformed input (ragged length, bad
    PKCS#7 tail) — the caller degrades that stream to skipped, never a
    task failure. ≥4 blocks take the vectorized inverse cipher (all
    blocks at once + shifted-XOR); shorter inputs stay on the scalar
    path, equality-pinned to it in tests."""
    if len(data) % 16 or (unpad and not data):
        return None
    if not data:
        return b""  # unpad=False with empty input
    if len(iv) < 16:
        return None  # malformed framing — degrade, never raise
    if _HAVE_CG:
        dec = _CgCipher(
            _cg_algorithms.AES(key), _cg_modes.CBC(iv[:16])
        ).decryptor()
        out = bytearray(dec.update(data) + dec.finalize())
    elif len(data) >= 64:
        rk = _aes_expand(key)
        dec = _aes_ecb_decrypt_np(rk, data)
        prev = np.frombuffer(iv + data[:-16], dtype=np.uint8).reshape(-1, 16)
        out = bytearray((dec ^ prev).tobytes())
    else:
        rk = _aes_expand(key)
        out = bytearray()
        prev = iv
        for i in range(0, len(data), 16):
            blk = data[i : i + 16]
            out += bytes(a ^ b for a, b in zip(_aes_decrypt_block(rk, blk), prev))
            prev = blk
    if not unpad:
        return bytes(out)
    n = out[-1] if out else 0
    if not 1 <= n <= 16 or len(out) < n:
        return None
    return bytes(out[:-n])


def _pad_password(pw: bytes) -> bytes:
    return (pw + PAD)[:32]


def _parse_pdf_string(tok: bytes) -> bytes | None:
    """Hex `<...>` or literal `(...)` PDF string token → raw bytes."""
    if tok.startswith(b"<"):
        hx = re.sub(rb"\s", b"", tok[1:-1])
        if len(hx) % 2:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except ValueError:
            return None
    if tok.startswith(b"("):
        body = tok[1:-1]
        out = bytearray()
        i = 0
        while i < len(body):
            c = body[i : i + 1]
            if c == b"\\" and i + 1 < len(body):
                nxt = body[i + 1 : i + 2]
                if b"0" <= nxt <= b"7":  # \ddd octal, 1-3 digits
                    j = i + 1
                    while j < min(i + 4, len(body)) and b"0" <= body[j : j + 1] <= b"7":
                        j += 1
                    out.append(int(body[i + 1 : j], 8) & 0xFF)
                    i = j
                    continue
                out += _ESC.get(nxt, nxt)
                i += 2
                continue
            out += c
            i += 1
        return bytes(out)
    return None


def _string_value(head: bytes, key: bytes) -> bytes | None:
    m = re.search(
        # [^)\\] (not [^)]) keeps the two alternatives disjoint — the
        # overlapping form backtracks exponentially on an unterminated
        # backslash-heavy string in a corrupt /Encrypt dict, and also
        # mis-closes on an escaped \) — same unrolled-loop shape as the
        # content-stream literal pattern
        re.escape(key) + rb"\s*(<[0-9A-Fa-f\s]*>|\([^)\\]*(?:\\.[^)\\]*)*\))",
        head,
    )
    return _parse_pdf_string(m.group(1)) if m else None


def _int_value(head: bytes, key: bytes) -> int | None:
    m = re.search(re.escape(key) + rb"\s+(-?\d+)", head)
    return int(m.group(1)) if m else None


def compute_key(
    o: bytes,
    p: int,
    id0: bytes,
    r: int,
    n: int,
    user_pw: bytes = b"",
    encrypt_metadata: bool = True,
) -> bytes:
    """§7.6.3.3 Algorithm 2 — file encryption key for V ≤ 4 (R ≤ 4).
    Step f: R ≥ 4 with /EncryptMetadata false appends 0xFFFFFFFF."""
    src = _pad_password(user_pw) + o[:32] + struct.pack("<i", p) + id0
    if r >= 4 and not encrypt_metadata:
        src += b"\xff\xff\xff\xff"
    h = md5(src).digest()
    if r >= 3:
        for _ in range(50):
            h = md5(h[:n]).digest()
    return h[:n]


@lru_cache(maxsize=64)
def hash_2b(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 §7.6.4.3.4 Algorithm 2.B — the R6 iterated hash
    (SHA-256 seed, then AES-128-CBC rounds steering between
    SHA-256/384/512 until the ≥64-round termination test passes).
    Deliberately expensive per spec (~0.18 s on the pure-Python cipher,
    ~2 ms via OpenSSL when `cryptography` is present); the cache
    collapses the repeated validation+key derivations a single file
    needs — and, for any (rare) salt collision across files, the whole
    derivation."""
    k = sha256(pw + salt + udata).digest()
    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = (sha256, sha384, sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def compute_o(owner_pw: bytes, user_pw: bytes, r: int, n: int) -> bytes:
    """§7.6.3.4 Algorithm 3 — the /O entry (synth-twin side)."""
    h = md5(_pad_password(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            h = md5(h).digest()
    key = h[:n]
    o = rc4(key, _pad_password(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """§7.6.3.4 Algorithms 4 (R=2) / 5 (R=3) — the /U entry."""
    if r == 2:
        return rc4(key, PAD)
    u = rc4(key, md5(PAD + id0).digest())
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16  # 32-byte entry; only the first 16 are defined


class StandardCrypt:
    """Verified file key + per-object decryption (§7.6.2 Algorithm 1 /
    §7.6.4 for V5). `mode`: 'rc4', 'aesv2' (AES-128, per-object rekey +
    sAlT), 'aesv3' (AES-256, file key used directly), or 'identity'
    (a V4 /StmF /Identity file — streams are plaintext)."""

    def __init__(self, key: bytes, mode: str = "rc4"):
        self._key = key
        self._n = len(key)
        self.mode = mode

    def _object_key(self, objnum: int, gen: int, salt: bytes = b"") -> bytes:
        return md5(
            self._key
            + struct.pack("<I", objnum)[:3]
            + struct.pack("<H", gen)
            + salt
        ).digest()[: min(self._n + 5, 16)]

    def decrypt(self, objnum: int, data: bytes, gen: int = 0) -> bytes:
        """Stream ciphertext → plaintext; malformed AES framing (ragged
        blocks, bad PKCS#7) degrades to b'' so the caller skips the
        stream, never fails the task."""
        if self.mode == "identity":
            return data
        if self.mode == "aesv3":
            out = aes_cbc_decrypt(self._key, data[:16], data[16:])
            return out if out is not None else b""
        if self.mode == "aesv2":
            ok = self._object_key(objnum, gen, b"sAlT")
            out = aes_cbc_decrypt(ok, data[:16], data[16:])
            return out if out is not None else b""
        return rc4(self._object_key(objnum, gen), data)

    encrypt = decrypt  # RC4 is symmetric — synth twin uses the same path

    def encrypt_stream(
        self, objnum: int, data: bytes, iv: bytes | None = None, gen: int = 0
    ) -> bytes:
        """Synth-twin side. RC4 is symmetric; AES modes prefix the IV
        (deterministic from objnum+length when not supplied — fixtures
        must be reproducible, and CBC needs uniqueness, not secrecy)."""
        if self.mode == "rc4":
            return self.decrypt(objnum, data, gen)
        if iv is None:
            iv = md5(struct.pack("<II", objnum, len(data))).digest()
        if self.mode == "aesv3":
            return iv + aes_cbc_encrypt(self._key, iv, data)
        return iv + aes_cbc_encrypt(self._object_key(objnum, gen, b"sAlT"), iv, data)


def _crypt_filter_method(head: bytes, name: bytes) -> bytes | None:
    """/CFM of the named crypt filter inside the /CF dictionary."""
    cm = re.search(rb"/CF\s*<<", head)
    if cm is None:
        return None
    cf = _balanced_dict(head, cm.end() - 2)
    if cf is None:
        return None
    fm = re.search(rb"/" + re.escape(name) + rb"\s*<<", cf)
    if fm is None:
        return None
    fdict = _balanced_dict(cf, fm.end() - 2)
    if fdict is None:
        return None
    mm = re.search(rb"/CFM\s*/(\w+)", fdict)
    return mm.group(1) if mm else None


def try_open(raw: bytes) -> StandardCrypt | None:
    """Open an encrypted PDF with the EMPTY user password.

    Returns a verified StandardCrypt, or None when the document uses an
    unsupported handler/revision or the password check fails (a real user
    password) — the caller then reports parse_status='encrypted' instead
    of emitting ciphertext-derived garbage. Supported: RC4 V1/V2 R2/R3,
    V4 R4 crypt filters (/CFM /AESV2 or /V2; /StmF /Identity passes
    streams through), and V5 R5/R6 AES-256.
    """
    refs = _ENCRYPT_REF_RE.findall(raw)
    if not refs:
        return None
    enc_num = int(refs[-1])
    head = None
    for m in _OBJ_AT_RE.finditer(raw):
        if int(m.group(1)) == enc_num:
            head = m.group(2).split(b"stream", 1)[0]
    if head is None or b"/Standard" not in head:
        return None
    v = _int_value(head, b"/V") or 0
    r = _int_value(head, b"/R") or 0
    u = _string_value(head, b"/U")
    if u is None:
        return None

    if v == 5 and r in (5, 6):
        # AES-256 (§7.6.4): validate the empty password against /U's
        # validation salt, then unwrap the file key from /UE
        ue = _string_value(head, b"/UE")
        if ue is None or len(u) < 48 or len(ue) < 32:
            return None
        vsalt, ksalt = u[32:40], u[40:48]
        if r == 6:
            if hash_2b(b"", vsalt) != u[:32]:
                return None
            inter = hash_2b(b"", ksalt)
        else:  # deprecated Adobe R5: single SHA-256, no iteration
            if sha256(vsalt).digest() != u[:32]:
                return None
            inter = sha256(ksalt).digest()
        fkey = aes_cbc_decrypt(inter, bytes(16), ue[:32], unpad=False)
        return StandardCrypt(fkey, "aesv3") if fkey is not None else None

    if v in (1, 2) and r in (2, 3):
        mode = "rc4"
        n = (_int_value(head, b"/Length") or 40) // 8 if v == 2 else 5
    elif v == 4 and r == 4:
        sm = re.search(rb"/StmF\s*/(\w+)", head)
        stmf = sm.group(1) if sm else b"Identity"
        if stmf == b"Identity":
            mode = "identity"
        else:
            cfm = _crypt_filter_method(head, stmf)
            if cfm == b"AESV2":
                mode = "aesv2"
            elif cfm == b"V2":
                mode = "rc4"  # RC4-128 wearing crypt-filter clothes
            else:
                return None  # AESV1? unknown filter — stay 'encrypted'
        n = (_int_value(head, b"/Length") or 128) // 8
    else:
        return None
    if not 5 <= n <= 16:
        return None
    o = _string_value(head, b"/O")
    p = _int_value(head, b"/P")
    if o is None or p is None or len(o) < 32:
        return None
    em = re.search(rb"/EncryptMetadata\s+false", head) is None
    idm = _ID_RE.findall(raw)
    id0 = _parse_pdf_string(idm[-1]) if idm else b""
    if id0 is None:
        id0 = b""
    key = compute_key(o, p, id0, r, n, encrypt_metadata=em)
    want = compute_u(key, id0, r)
    got_ok = u[:16] == want[:16] if r >= 3 else u[:32] == want[:32]
    return StandardCrypt(key, mode) if got_ok else None
