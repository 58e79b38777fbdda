"""Published known-answer vectors for the two hand-written cipher sets: the
kernel's ``functions/pdfcrypt.py`` and the oracle's independent ``_o_aes_*``
/ ``_o_rc4``. Each set is checked on its own, so a shared mistake cannot
hide behind kernel == oracle parity.

Vectors: FIPS-197 Appendix C.1 (AES-128) and C.3 (AES-256), NIST SP 800-38A
F.2.1 (CBC-AES128, first block) and RFC 6229 (RC4, 40-bit key, offset 0).
"""

import pytest

from paddleocr_spark import oracle as O
from paddleocr_spark.functions import pdfcrypt as K

PLAIN = bytes.fromhex("00112233445566778899aabbccddeeff")
BLOCK_VECTORS = [  # (key, ciphertext of PLAIN)
    (bytes(range(16)), bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")),  # C.1
    (bytes(range(32)), bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")),  # C.3
]
CBC_KEY = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
CBC_IV = bytes(range(16))
CBC_PLAIN = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
CBC_CIPHER = bytes.fromhex("7649abac8119b246cee98e9b12e9197d")
PKCS7_BLOCK = bytes([16]) * 16
RC4_KEY = bytes.fromhex("0102030405")
RC4_STREAM = bytes.fromhex("b2396305f03dc027ccc3524a0a1118a8")


@pytest.mark.parametrize("key,cipher", BLOCK_VECTORS, ids=["fips197-c1", "fips197-c3"])
def test_kernel_aes_block_fips197(key, cipher):
    w, nr = K._expand_key(key), len(key) // 4 + 6
    assert K._cipher_block(PLAIN, w, nr) == cipher
    assert K._inv_cipher_block(cipher, w, nr) == PLAIN


@pytest.mark.parametrize("key,cipher", BLOCK_VECTORS, ids=["fips197-c1", "fips197-c3"])
def test_oracle_aes_block_fips197(key, cipher):
    w, nr = O._o_keysched(key)
    assert O._o_aes_enc_block(PLAIN, w, nr) == cipher
    assert O._o_aes_dec_block(cipher, w, nr) == PLAIN


def test_kernel_aes_cbc_sp800_38a():
    enc = K.aes_encrypt_cbc(CBC_KEY, CBC_IV, CBC_PLAIN)
    assert enc[:32] == CBC_IV + CBC_CIPHER and len(enc) == 48  # + PKCS#7 block
    assert K.aes_decrypt_cbc(CBC_KEY, enc) == CBC_PLAIN


def test_oracle_aes_cbc_sp800_38a():
    enc = O._o_aes_cbc_enc_raw(CBC_KEY, CBC_IV, CBC_PLAIN + PKCS7_BLOCK)
    assert enc[:16] == CBC_CIPHER
    assert O._o_aes_cbc_dec(CBC_KEY, CBC_IV + enc) == CBC_PLAIN


def test_kernel_rc4_rfc6229():
    assert K.rc4(RC4_KEY, bytes(16)) == RC4_STREAM


def test_oracle_rc4_rfc6229():
    assert O._o_rc4(RC4_KEY, bytes(16)) == RC4_STREAM
