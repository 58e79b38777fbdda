"""Standard security handler for encrypted PDFs (ISO 32000-1 §7.6.3,
ISO 32000-2 §7.6.4) — the EMPTY-USER-PASSWORD case only.

The most common encrypted PDF in the wild is owner-restricted but opens
with the empty user password; the reference's pipeline reads those like
any other file (its pdf2image layer decrypts transparently). This module
derives the file key from the empty user password, VERIFIES it against
/U, and exposes the per-object decryptors the parser needs. A failed /U
check (a genuinely user-password-protected document) or an unsupported
handler keeps the v11 whole-payload refusal.

Supported: V1/R2 (RC4-40), V2/R3 (RC4 ≤128), V4/R4 with /CFM /V2 (RC4)
or /AESV2 (AES-128-CBC), V5/R6 with /AESV3 (AES-256-CBC). RC4 and AES
are vendored pure-stdlib below (AES tables are GENERATED at import from
the GF(2^8) arithmetic, both directions — the corpus/test encryptor uses
the forward cipher, the kernel the inverse).
"""

from __future__ import annotations

import hashlib
import struct
from typing import List, Optional

# --- RC4 -------------------------------------------------------------------


def rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# --- AES (FIPS-197), tables generated at import ----------------------------


def _gmul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def _make_sbox():
    # multiplicative inverse in GF(2^8) + the affine transform
    inv = [0] * 256
    for x in range(1, 256):
        for y in range(1, 256):
            if _gmul(x, y) == 1:
                inv[x] = y
                break
    def rotl(b: int, k: int) -> int:
        return ((b << k) | (b >> (8 - k))) & 0xFF

    sbox = [0] * 256
    for x in range(256):
        b = inv[x]
        sbox[x] = b ^ rotl(b, 1) ^ rotl(b, 2) ^ rotl(b, 3) ^ rotl(b, 4) ^ 0x63
    return sbox


_SBOX = _make_sbox()
_INV_SBOX = [0] * 256
for _i, _v in enumerate(_SBOX):
    _INV_SBOX[_v] = _i
_RCON = [0x01]
for _ in range(13):
    _RCON.append(_gmul(_RCON[-1], 2))
# constant-multiplier lookup tables: the round functions only ever
# multiply by 2,3 (forward) and 9,11,13,14 (inverse) — precomputing them
# turns each MixColumns into pure indexing (~15× over the bit loop)
_M = {c: [_gmul(x, c) for x in range(256)] for c in (2, 3, 9, 11, 13, 14)}
_M2, _M3 = _M[2], _M[3]
_M9, _M11, _M13, _M14 = _M[9], _M[11], _M[13], _M[14]


import functools


@functools.lru_cache(maxsize=256)
def _expand_key(key: bytes) -> List[List[int]]:
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([w[i - nk][j] ^ t[j] for j in range(4)])
    return w


def _add_rk(st: List[int], w, rnd: int) -> None:
    for c in range(4):
        wk = w[4 * rnd + c]
        for r in range(4):
            st[4 * c + r] ^= wk[r]


def _cipher_block(block: bytes, w, nr: int) -> bytes:
    st = list(block)
    _add_rk(st, w, 0)
    for rnd in range(1, nr):
        st = [_SBOX[b] for b in st]
        # ShiftRows on column-major state: row r rotates left r
        st = [st[(4 * ((c + r) % 4)) + r] for c in range(4) for r in range(4)]
        ns = [0] * 16
        for c in range(4):
            a0, a1, a2, a3 = st[4 * c : 4 * c + 4]
            ns[4 * c + 0] = _M2[a0] ^ _M3[a1] ^ a2 ^ a3
            ns[4 * c + 1] = a0 ^ _M2[a1] ^ _M3[a2] ^ a3
            ns[4 * c + 2] = a0 ^ a1 ^ _M2[a2] ^ _M3[a3]
            ns[4 * c + 3] = _M3[a0] ^ a1 ^ a2 ^ _M2[a3]
        st = ns
        _add_rk(st, w, rnd)
    st = [_SBOX[b] for b in st]
    st = [st[(4 * ((c + r) % 4)) + r] for c in range(4) for r in range(4)]
    _add_rk(st, w, nr)
    return bytes(st)


def _inv_cipher_block(block: bytes, w, nr: int) -> bytes:
    st = list(block)
    _add_rk(st, w, nr)
    for rnd in range(nr - 1, 0, -1):
        # InvShiftRows: row r rotates right r
        st = [st[(4 * ((c - r) % 4)) + r] for c in range(4) for r in range(4)]
        st = [_INV_SBOX[b] for b in st]
        _add_rk(st, w, rnd)
        ns = [0] * 16
        for c in range(4):
            a0, a1, a2, a3 = st[4 * c : 4 * c + 4]
            ns[4 * c + 0] = _M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]
            ns[4 * c + 1] = _M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]
            ns[4 * c + 2] = _M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]
            ns[4 * c + 3] = _M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3]
        st = ns
    st = [st[(4 * ((c - r) % 4)) + r] for c in range(4) for r in range(4)]
    st = [_INV_SBOX[b] for b in st]
    _add_rk(st, w, 0)
    return bytes(st)


def _cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC over whole blocks: no padding, IV not prepended."""
    w = _expand_key(key)
    nr = len(key) // 4 + 6
    prev = iv
    out = bytearray()
    for off in range(0, len(data), 16):
        blk = bytes(x ^ y for x, y in zip(data[off : off + 16], prev))
        prev = _cipher_block(blk, w, nr)
        out += prev
    return bytes(out)


def _cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytearray:
    """Inverse of ``_cbc_encrypt``."""
    w = _expand_key(key)
    nr = len(key) // 4 + 6
    prev = iv
    out = bytearray()
    for off in range(0, len(data), 16):
        blk = data[off : off + 16]
        out += bytes(x ^ y for x, y in zip(_inv_cipher_block(blk, w, nr), prev))
        prev = blk
    return out


def aes_decrypt_cbc(key: bytes, data: bytes) -> Optional[bytes]:
    """PDF AES layout: IV = first 16 bytes; PKCS#7 padding stripped.
    None on malformed length/padding."""
    if len(data) < 32 or len(data) % 16:
        return None
    out = _cbc_decrypt(key, data[:16], data[16:])
    pad = out[-1]
    if not 1 <= pad <= 16 or len(out) < pad:
        return None
    return bytes(out[:-pad])


def aes_encrypt_cbc(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Forward CBC with PKCS#7 padding, IV prepended (the PDF layout) —
    used by the corpus/test encryptor."""
    pad = 16 - len(data) % 16
    return iv + _cbc_encrypt(key, iv, data + bytes([pad]) * pad)


def aes_decrypt_cbc_noiv(key: bytes, data: bytes) -> Optional[bytes]:
    """AES-256-CBC with a ZERO IV and NO padding — the R6 /UE file-key
    unwrap (ISO 32000-2 §7.6.4.4.8)."""
    if len(data) % 16 or not data:
        return None
    return bytes(_cbc_decrypt(key, bytes(16), data))


def aes_encrypt_cbc_noiv(key: bytes, data: bytes) -> bytes:
    """Forward zero-IV no-padding CBC (corpus-side /UE wrap)."""
    assert len(data) % 16 == 0
    return _cbc_encrypt(key, bytes(16), data)


# --- standard security handler key derivation ------------------------------

PAD = bytes(
    (
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    )
)


def file_key_rc4(
    o: bytes, p: int, id0: bytes, r: int, nbytes: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """§7.6.3.3 Algorithm 2 with the EMPTY user password."""
    h = hashlib.md5()
    h.update(PAD)
    h.update(o[:32])
    h.update(struct.pack("<i", p))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:nbytes]).digest()
    return key[:nbytes]


def user_check_r2(key: bytes) -> bytes:
    """Algorithm 4: /U = RC4(key, PAD)."""
    return rc4(key, PAD)


def user_check_r34(key: bytes, id0: bytes) -> bytes:
    """Algorithm 5: 16 significant /U bytes (the rest arbitrary)."""
    x = rc4(key, hashlib.md5(PAD + id0).digest())
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in key), x)
    return x


def object_key(key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """§7.6.3.1 Algorithm 1: per-object key (V<5 only)."""
    ext = struct.pack("<I", num)[:3] + struct.pack("<I", gen)[:2]
    if aes:
        ext += b"sAlT"
    k = hashlib.md5(key + ext).digest()
    return k[: min(len(key) + 5, 16)]


@functools.lru_cache(maxsize=64)
def _r6_hash(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 §7.6.4.3.4 Algorithm 2.B (SHA-256/384/512 mix)."""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _cbc_encrypt(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        if mod == 0:
            k = hashlib.sha256(e).digest()
        elif mod == 1:
            k = hashlib.sha384(e).digest()
        else:
            k = hashlib.sha512(e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            break
    return k[:32]


def r6_verify_empty_user(u: bytes, ue: bytes):
    """R6 empty-user-password check → the 32-byte file key, or None.
    /U = hash ∥ validation-salt(8) ∥ key-salt(8); /UE = AES-wrapped key."""
    if len(u) < 48 or len(ue) < 32:
        return None
    vsalt, ksalt = u[32:40], u[40:48]
    if _r6_hash(b"", vsalt) != u[:32]:
        return None
    ikey = _r6_hash(b"", ksalt)
    return aes_decrypt_cbc_noiv(ikey, ue[:32])


def r6_make_user_entries(file_key: bytes, vsalt: bytes, ksalt: bytes):
    """Corpus-side R6 /U + /UE construction for the empty user password."""
    u = _r6_hash(b"", vsalt) + vsalt + ksalt
    ue = aes_encrypt_cbc_noiv(_r6_hash(b"", ksalt), file_key)
    return u, ue
