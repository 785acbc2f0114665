"""AES-CTR payload crypto + data-key service.

Reference behaviours re-expressed from:
- src/main/kotlin/app/services/impl/AESCipherService.kt:26-59
  (AES/CTR/NoPadding, base64 key/iv/ciphertext)
- src/main/kotlin/app/services/impl/HttpKeyService.kt:43-57,96-160
  (decryptKey with in-process cache; one batch data key per run)

Spark's built-in aes_encrypt/aes_decrypt are GCM/CBC-only, so CTR runs in
the per-record export kernel (operators/decryption.py), one Python pass
per Arrow batch. The key-service
cache is per-executor (module-level dict), mirroring HttpKeyService's
decryptedKeyCache so a 1000-executor run makes O(distinct kek) service
calls, not O(records).
"""

from __future__ import annotations

import base64
import hashlib
from functools import lru_cache

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes


@lru_cache(maxsize=256)
def _aes(key_b64: str) -> algorithms.AES:
    """The decoded AES key: a run decrypts every record of a topic with
    one of a few data keys, so the base64 decode and key check run once
    per key, not once per record."""
    return algorithms.AES(base64.b64decode(key_b64))


def aes_ctr_decrypt(key_b64: str, iv_b64: str, ciphertext_b64: str) -> bytes:
    iv = base64.b64decode(iv_b64)
    ct = base64.b64decode(ciphertext_b64)
    cipher = Cipher(_aes(key_b64), modes.CTR(iv))
    d = cipher.decryptor()
    return d.update(ct) + d.finalize()


def aes_ctr_encrypt(key_b64: str, iv: bytes, plaintext: bytes) -> str:
    key = base64.b64decode(key_b64)
    cipher = Cipher(algorithms.AES(key), modes.CTR(iv))
    e = cipher.encryptor()
    return base64.b64encode(e.update(plaintext) + e.finalize()).decode("ascii")


class KeyService:
    """decryptKey(kekId, encryptedKey) -> plaintext data key (base64).

    The production implementation would call an external key service over
    mTLS with retry/backoff (HttpKeyService.kt:96-118); LocalKeyService
    below is the deterministic stand-in used by tests and fixtures.
    """

    def decrypt_key(self, kek_id: str, encrypted_key_b64: str) -> str:
        raise NotImplementedError


class LocalKeyService(KeyService):
    """Deterministic KEK: data key = XOR(encrypted_key, stretch(kek_id)).

    Fixtures encrypt with the same XOR so decrypt_key round-trips. The
    per-process cache mirrors HttpKeyService.decryptedKeyCache
    (HttpKeyService.kt:100-104): keyed (kekId, encryptedKey)."""

    def __init__(self) -> None:
        self._cache: dict[tuple[str, str], str] = {}

    def _pad(self, kek_id: str, n: int) -> bytes:
        out = b""
        counter = 0
        while len(out) < n:
            out += hashlib.sha256(f"{kek_id}:{counter}".encode()).digest()
            counter += 1
        return out[:n]

    def encrypt_data_key(self, kek_id: str, plaintext_key_b64: str) -> str:
        raw = base64.b64decode(plaintext_key_b64)
        enc = bytes(a ^ b for a, b in zip(raw, self._pad(kek_id, len(raw))))
        return base64.b64encode(enc).decode("ascii")

    def decrypt_key(self, kek_id: str, encrypted_key_b64: str) -> str:
        cache_key = (kek_id, encrypted_key_b64)
        if cache_key not in self._cache:
            enc = base64.b64decode(encrypted_key_b64)
            raw = bytes(a ^ b for a, b in zip(enc, self._pad(kek_id, len(enc))))
            self._cache[cache_key] = base64.b64encode(raw).decode("ascii")
        return self._cache[cache_key]


# Per-executor singleton so every pandas-UDF batch on an executor shares
# one cache (broadcast of the *service config*, not the keys themselves).
_LOCAL_SERVICE: LocalKeyService | None = None


def local_key_service() -> LocalKeyService:
    global _LOCAL_SERVICE
    if _LOCAL_SERVICE is None:
        _LOCAL_SERVICE = LocalKeyService()
    return _LOCAL_SERVICE


class DataKeyDecryptionException(Exception):
    """DKS answered 400: the key material is bad — NOT retryable
    (Exceptions.kt / HttpKeyService.kt:121-129)."""


class DataKeyServiceUnavailableException(Exception):
    """DKS unreachable or non-200/201/400 — retryable
    (HttpKeyService.kt:131-139)."""


def _urllib_transport(method: str, url: str, body: str | None, content_type: str):
    """Default transport: (status_code, response_text) via stdlib urllib.
    Production mTLS would pass an ssl.SSLContext-wrapping transport
    instead (SecureHttpClientProvider.kt); tests inject fakes."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url,
        data=body.encode() if body is not None else None,
        method=method,
        headers={"Content-Type": content_type} if body is not None else {},
    )
    try:
        with urllib.request.urlopen(req) as resp:  # noqa: S310 — caller-config URL
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


class HttpKeyService(KeyService):
    """DKS wire adapter (HttpKeyService.kt:26-160):

    - batch_data_key(): GET {url}/datakey?correlationId=... -> 201 with
      {dataKeyEncryptionKeyId, plaintextDataKey, ciphertextDataKey};
      memoised — ONE data key per run (kt:43-49, @Synchronized memo);
    - decrypt_key(kekId, encryptedKey): POST
      {url}/datakey/actions/decrypt?keyId=...&correlationId=... with the
      encrypted key as text/plain -> 200 plaintextDataKey; 400 raises
      DataKeyDecryptionException (permanent), anything else
      DataKeyServiceUnavailableException (retried 5x, 1 s x2 backoff);
      results cached by "{encryptedKey}/{kekId}" exactly like
      kt:100-104.

    The transport is injectable ((method, url, body, content_type) ->
    (status, text)); the default uses stdlib urllib so no HTTP library
    dependency is added."""

    def __init__(self, base_url: str, transport=None, retry_sleep=None):
        import time as _time

        self._base = base_url.rstrip("/")
        self._transport = transport or _urllib_transport
        self._sleep = retry_sleep or _time.sleep
        self._cache: dict[str, str] = {}
        self._data_key: dict | None = None

    def _retrying(self, fn):
        attempt, wait = 0, 1.0
        while True:
            try:
                return fn()
            except DataKeyServiceUnavailableException:
                attempt += 1
                if attempt >= 5:
                    raise
                self._sleep(wait)
                wait *= 2.0

    def batch_data_key(self) -> dict:
        if self._data_key is None:
            self._data_key = self._retrying(self._fetch_data_key)
        return self._data_key

    def _fetch_data_key(self) -> dict:
        import json as _json
        import uuid as _uuid

        url = f"{self._base}/datakey?correlationId={_uuid.uuid4()}"
        try:
            status, text = self._transport("GET", url, None, "text/plain")
        except Exception as e:  # noqa: BLE001 — network errors are retryable
            raise DataKeyServiceUnavailableException(str(e)) from e
        if status != 201:
            raise DataKeyServiceUnavailableException(
                f"data key service returned bad status code '{status}'"
            )
        return _json.loads(text)

    def decrypt_key(self, kek_id: str, encrypted_key_b64: str) -> str:
        cache_key = f"{encrypted_key_b64}/{kek_id}"
        if cache_key not in self._cache:
            self._cache[cache_key] = self._retrying(
                lambda: self._decrypt_remote(kek_id, encrypted_key_b64)
            )
        return self._cache[cache_key]

    def _decrypt_remote(self, kek_id: str, encrypted_key_b64: str) -> str:
        import json as _json
        import urllib.parse
        import uuid as _uuid

        url = (
            f"{self._base}/datakey/actions/decrypt"
            f"?keyId={urllib.parse.quote(kek_id, safe='')}"
            f"&correlationId={_uuid.uuid4()}"
        )
        try:
            status, text = self._transport("POST", url, encrypted_key_b64, "text/plain")
        except Exception as e:  # noqa: BLE001
            raise DataKeyServiceUnavailableException(str(e)) from e
        if status == 200:
            return _json.loads(text)["plaintextDataKey"]
        if status == 400:
            raise DataKeyDecryptionException(
                f"data key service returned status code '{status}'"
            )
        raise DataKeyServiceUnavailableException(
            f"data key service returned status code '{status}'"
        )

    def clear_cache(self) -> None:
        self._cache = {}
