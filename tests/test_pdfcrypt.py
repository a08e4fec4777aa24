"""PDF standard security handler (kernels/pdfcrypt): AES/RC4 primitives
against published vectors, key-derivation algorithms, and end-to-end
encrypted-document extraction through the pdfx entry points."""

import re

import pytest

from searchgov_spider_spark.kernels import pdfcrypt as pc
from searchgov_spider_spark.kernels import pdfx

VARIANTS = ["rc4-40", "rc4-128", "aes-128", "aes-256"]


class TestPrimitives:
    def test_aes_fips197_known_answer(self):
        key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        ct = pc._aes_encrypt_block(pc._expand_key(key), pt)
        assert ct == bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
        assert pc._aes_decrypt_block(pc._expand_key(key), ct) == pt

    def test_aes256_fips197_known_answer(self):
        # FIPS-197 Appendix C.3 (AES-256), via the pure-Python blocks
        key = bytes.fromhex(
            "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
        )
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        ct = pc._aes_encrypt_block(pc._expand_key(key), pt)
        assert ct == bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
        assert pc._aes_decrypt_block(pc._expand_key(key), ct) == pt

    def test_aes256_cbc_sp800_38a_vector(self):
        # NIST SP 800-38A F.2.5 CBC-AES256.Encrypt, first block
        key = bytes.fromhex(
            "603deb1015ca71be2b73aef0857d77811f352c073b6108d72d9810a30914dff4"
        )
        iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
        pt = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
        assert pc.aes_cbc_encrypt_nopad(key, iv, pt) == bytes.fromhex(
            "f58c4c04d6e5f1ba779eabfb5f7bfbd6"
        )

    @pytest.mark.skipif(not pc._HAVE_CRYPTO, reason="library path unavailable")
    def test_pure_python_matches_library_cbc(self):
        import hashlib

        for klen in (16, 32):
            key = hashlib.sha256(b"k%d" % klen).digest()[:klen]
            iv = hashlib.sha256(b"iv").digest()[:16]
            data = hashlib.sha512(b"d").digest()  # 64 bytes, 4 blocks
            lib = pc.aes_cbc_encrypt_nopad(key, iv, data)
            assert pc._pure_cbc_encrypt(key, iv, data) == lib
            assert pc._pure_cbc_decrypt(key, iv, lib) == data

    def test_cbc_round_trip_all_pad_lengths(self):
        key = b"0123456789abcdef"
        iv = bytes(range(16))
        for n in range(0, 33):
            data = bytes(range(n % 256))[:n]
            assert pc.aes_cbc_decrypt(key, pc.aes_cbc_encrypt(key, iv, data)) == data

    def test_rc4_vector(self):
        # classic test vector: RC4("Key", "Plaintext")
        assert pc.rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"

    def test_cbc_rejects_short_or_ragged(self):
        assert pc.aes_cbc_decrypt(b"0123456789abcdef", b"short") == b""
        assert pc.aes_cbc_decrypt(b"0123456789abcdef", bytes(33)) == b""


class TestKeyAlgorithms:
    def test_key_length_by_revision(self):
        o = bytes(32)
        assert len(pc.file_key(o, -44, b"\x01" * 16, r=2, length_bits=40)) == 5
        assert len(pc.file_key(o, -44, b"\x01" * 16, r=3, length_bits=128)) == 16

    def test_object_key_truncation(self):
        key = bytes(16)
        # min(len + 5, 16): already 16 for a 128-bit key, 10 for 40-bit
        assert len(pc.object_key(key, 3, 0, aes=False)) == 16
        assert len(pc.object_key(key[:5], 3, 0, aes=False)) == 10

    def test_o_u_round_trip_owner_password(self):
        # deriving the file key from O (empty user pwd) must be the same key
        # the writer used; pinned indirectly by every extraction test, here
        # directly: U(key) recomputes identically
        for r, bits in ((2, 40), (3, 128)):
            o = pc.o_value(b"owner", b"", r, bits)
            key = pc.file_key(o, -44, b"\x02" * 16, r, bits)
            assert pc.u_value(key, b"\x02" * 16, r) == pc.u_value(key, b"\x02" * 16, r)


class TestEncryptedDocuments:
    BASE_KW = dict(
        annot_uris=["https://example.gov/enc"],
        info={"Title": "Locked Report", "CreationDate": "D:20240101120000Z"},
    )

    @pytest.mark.parametrize("variant", VARIANTS)
    def test_extraction_transparent(self, variant):
        base = pdfx.make_simple_pdf(["Hello encrypted world.", "Data at https://example.gov/d1."], **self.BASE_KW)
        plain = pdfx.extract_pdf_text(base)
        enc = pc.encrypt_pdf(base, variant=variant)
        doc = pdfx.extract_pdf_text(enc)
        assert doc.text == plain.text
        assert doc.links == plain.links
        assert pdfx.extract_pdf_meta(enc) == pdfx.extract_pdf_meta(base)

    @pytest.mark.parametrize("variant", VARIANTS)
    def test_without_decrypt_no_plaintext_leaks(self, variant):
        base = pdfx.make_simple_pdf(["Sensitive body text"], **self.BASE_KW)
        enc = pc.encrypt_pdf(base, variant=variant)
        assert b"Sensitive body text" not in enc
        assert b"Locked Report" not in enc

    @pytest.mark.parametrize("variant", VARIANTS)
    def test_compressed_and_kerned_content(self, variant):
        base = pdfx.make_simple_pdf(
            ["Flate body line."], tj_arrays=[["Sec", -30.0, "tion", -250.0, "9"]]
        )
        enc = pc.encrypt_pdf(base, variant=variant)
        assert pdfx.extract_pdf_text(enc).text == pdfx.extract_pdf_text(base).text

    @staticmethod
    def _content_stream(pdf: bytes) -> bytes:
        n = int(re.search(rb"/Contents\s+(\d+)\s+0\s+R", pdf).group(1))
        ob = next(m.group(3) for m in pc._OBJ_RE.finditer(pdf) if int(m.group(1)) == n)
        return pc._STREAM_SPLIT_RE.match(ob.strip()).group(2)

    @staticmethod
    def _layout(pdf: bytes, layout: str) -> bytes:
        """The same document with its trailer entries moved.  "linearized"
        puts /Encrypt and /ID in a first-page trailer at the top and leaves
        the final trailer only /Size (the Fast Web View layout);
        "xref-stream" turns every trailer into a /Type /XRef stream
        dictionary (the PDF 1.5 layout)."""
        m = re.search(rb"trailer\n<<(.*?)>>\n", pdf, re.S)
        if layout.startswith("linearized"):
            head = pdf.index(b"\n") + 1
            size = re.search(rb"/Size\s+\d+", m.group(1)).group(0)
            first = b"xref\n0 0\ntrailer\n<<" + m.group(1) + b">>\nstartxref\n0\n%%EOF\n"
            last = b"trailer\n<< " + size + b" >>\n"
            pdf = pdf[:head] + first + pdf[head : m.start()] + last + pdf[m.end() :]
        if layout.endswith("xref-stream"):
            num = iter(range(90, 100))
            pdf = re.sub(
                rb"trailer\n<<(.*?)>>\n",
                lambda t: b"%d 0 obj\n<< /Type /XRef%s/Length 0 >>\nstream\n\nendstream\nendobj\n"
                % (next(num), t.group(1)),
                pdf,
                flags=re.S,
            )
        return pdf

    @pytest.mark.parametrize("layout", ["classic", "xref-stream", "linearized", "linearized-xref-stream"])
    @pytest.mark.parametrize("variant", VARIANTS)
    def test_encrypt_ref_in_page_text_is_not_the_trailer(self, variant, layout):
        """Only a trailer's /Encrypt reference names the encryption
        dictionary and is blanked: a page showing the same text decrypts
        to its original content stream, whichever trailer layout holds
        the reference."""
        base = pdfx.make_simple_pdf(["see /Encrypt 9 0 R here"], compress=False)
        enc = self._layout(pc.encrypt_pdf(base, variant=variant), layout)
        dec = pc.decrypt_pdf(enc)
        assert b"(see /Encrypt 9 0 R here)" in self._content_stream(base)
        assert self._content_stream(dec) == self._content_stream(base)
        assert pc.decrypt_pdf(dec) == dec
        assert pdfx.extract_pdf_text(enc).text == pdfx.extract_pdf_text(base).text

    def test_convert_pdf_end_to_end(self):
        base = pdfx.make_simple_pdf(["Converted body."], **self.BASE_KW)
        enc = pc.encrypt_pdf(base, variant="aes-128")
        d = pdfx.convert_pdf(enc, "https://x.gov/a/report.pdf")
        assert "Locked Report" in d["title"]
        assert "Converted body." in d["content"]

    def test_unsupported_revision_degrades_not_raises(self):
        base = pdfx.make_simple_pdf(["Future crypto."])
        enc = pc.encrypt_pdf(base, variant="rc4-128")
        # a mismatched /V 2 /R 6 combination is structurally invalid
        enc = enc.replace(b"/R 3", b"/R 6")
        assert pc.decrypt_pdf(enc) == enc  # unchanged, tolerant contract
        assert pdfx.extract_pdf_text(enc).text == ""  # degrades, no raise

    def test_unencrypted_body_passthrough(self):
        base = pdfx.make_simple_pdf(["No crypto here."])
        assert pc.decrypt_pdf(base) is base

    def test_decrypt_is_idempotent(self):
        base = pdfx.make_simple_pdf(["Once only."])
        for variant in VARIANTS:
            dec = pc.decrypt_pdf(pc.encrypt_pdf(base, variant=variant))
            assert pc.decrypt_pdf(dec) == dec

    def test_q36_encrypted_fixture_rows_match_plain_expectation(self):
        from searchgov_spider_spark.queries import _pdf_fixture

        for i in (7, 15, 23, 31):  # rc4-40, rc4-128, aes-128, aes-256 rows
            _, pdf = _pdf_fixture(i)
            assert b"/Encrypt" in pdf
            doc = pdfx.extract_pdf_text(pdf)
            assert f"Annual report number {i}." in doc.text
            assert f"https://host0.example.gov/annot{i}" in doc.links


class TestPasswords:
    """Non-empty user/owner passwords: Algorithms 6/7 (R 2-4) and the 2.A
    user/owner recovery paths (R 6)."""

    @pytest.mark.parametrize("variant", VARIANTS)
    def test_user_and_owner_password_paths(self, variant):
        base = pdfx.make_simple_pdf(["Password locked body."])
        plain = pdfx.extract_pdf_text(base)
        enc = pc.encrypt_pdf(
            base, variant=variant, user_pwd=b"sekrit", owner_pwd=b"boss",
            file_id=b"\x21" * 16,
        )
        # no password / wrong password: tolerant unchanged body
        assert pc.decrypt_pdf(enc) == enc
        assert pc.decrypt_pdf(enc, passwords=(b"wrong",)) == enc
        # user password opens
        via_user = pc.decrypt_pdf(enc, passwords=(b"sekrit",))
        assert pdfx.extract_pdf_text(via_user) == plain
        # owner password opens (Algorithm 7 for R 2-4; /O salts for R 6)
        via_owner = pc.decrypt_pdf(enc, passwords=(b"boss",))
        assert pdfx.extract_pdf_text(via_owner) == plain

    def test_candidate_list_tries_in_order(self):
        base = pdfx.make_simple_pdf(["Multi-candidate."])
        enc = pc.encrypt_pdf(
            base, variant="aes-128", user_pwd=b"u2", file_id=b"\x22" * 16
        )
        dec = pc.decrypt_pdf(enc, passwords=(b"", b"u1", b"u2"))
        assert pdfx.extract_pdf_text(dec) == pdfx.extract_pdf_text(base)


class TestV5:
    def test_hash_2b_r5_is_single_sha256(self):
        import hashlib

        assert pc.hash_2b(b"pw", b"salt8888", b"", r=5) == hashlib.sha256(
            b"pw" + b"salt8888"
        ).digest()

    @pytest.mark.skipif(not pc._HAVE_CRYPTO, reason="pure 2.B is slow; parity "
                        "of the CBC primitive is covered in TestPrimitives")
    def test_hash_2b_pure_parity(self, monkeypatch):
        fast = pc.hash_2b(b"pw", b"salt8888", b"")
        monkeypatch.setattr(pc, "_HAVE_CRYPTO", False)
        assert pc.hash_2b(b"pw", b"salt8888", b"") == fast

    def test_perms_tamper_rejected(self):
        base = pdfx.make_simple_pdf(["Perms guarded."])
        enc = pc.encrypt_pdf(base, variant="aes-256", file_id=b"\x23" * 16)
        import re

        m = re.search(rb"/Perms <([0-9A-Fa-f]+)>", enc)
        tampered = enc.replace(m.group(1), m.group(1)[::-1])
        if tampered != enc:  # palindromic hex would be a fixture accident
            assert pc.decrypt_pdf(tampered) == tampered

    def test_v5_object_key_is_file_key(self):
        key = bytes(range(32))
        assert pc.object_key(key, 7, 0, aes=True) == key

    def test_truncated_ue_degrades(self):
        base = pdfx.make_simple_pdf(["Short UE."])
        enc = pc.encrypt_pdf(base, variant="aes-256", file_id=b"\x24" * 16)
        import re

        m = re.search(rb"/UE <([0-9A-Fa-f]+)>", enc)
        bad = enc.replace(b"/UE <" + m.group(1), b"/UE <" + m.group(1)[:16])
        # file key no longer recoverable -> unchanged body, no raise
        assert pdfx.extract_pdf_text(pc.decrypt_pdf(bad)).text == ""
