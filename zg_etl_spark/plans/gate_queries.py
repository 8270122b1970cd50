"""Wire-decode queries on the declared surface (G1/G2).

g1 round-trips the events table through the reference wire format:
each event is wrapped in the `{Ip, Now, Header, Args{event, compress}}`
envelope (service/MsgResolver.java:33-98), odd event_ids zlib+base64
compressed (MsgResolver.java:140), then decoded by resolve_wire's
Arrow-batched UDF. The DuckDB oracle recomputes the expected decoded
fields directly from events — if the encode/decode plumbing corrupts
anything, hashes diverge.
"""

from __future__ import annotations

import base64
import functools
import json
import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

QUERIES: dict = {}
ORACLE: dict = {}


def _wire_encode(event_id: pd.Series, event_type: pd.Series) -> pd.Series:
    out = []
    for eid, etype in zip(event_id, event_type):
        eid = int(eid)
        cls = eid % 101
        if cls == 5:  # whole message not JSON -> 1020001
            out.append("definitely not json {{{")
            continue
        if cls == 9:  # VALID json, every envelope field missing: the
            # reference fails the Ip check (1010003), NOT json-format —
            # readTree succeeds first (MsgResolver.java:33-98)
            out.append("{}")
            continue
        payload = json.dumps({"eid": eid, "etype": etype}, sort_keys=True)
        compress = eid % 2
        if compress:
            payload = base64.b64encode(zlib.compress(payload.encode())).decode()
        env = {
            "Ip": f"10.0.{eid % 256}.1",
            "Now": eid * 1000,
            "Header": "{}",
            "Args": {"event": payload, "compress": compress,
                     "encrypt": 0, "type": 1, "key": None},
        }
        # per-field ResolveException classes (MsgResolver.java:33-98)
        if cls == 6:
            del env["Ip"]       # -> 1010003 IP_NONE
        elif cls == 7:
            del env["Now"]      # -> 1010004 NOW_NONE
        elif cls == 8:
            del env["Header"]   # -> 1010005 HEADER_NONE
        out.append(json.dumps(env))
    return pd.Series(out)


_WIRE_COLS = ("ip", "server_ts", "result", "error_code")


def _decode_wire(spark: SparkSession, sf_dir: str, encode,
                 cols: tuple = _WIRE_COLS,
                 decryptors: dict | None = None) -> DataFrame:
    """Every event wire-encoded by ``encode`` (a pandas UDF body over
    event_id, event_type), decoded by resolve_wire with ``decryptors``,
    and projected to the decoded (event_id, event_type) plus the envelope
    columns ``cols``."""
    from zg_etl_spark.operators.decode import resolve_wire
    from zg_etl_spark.sources.tables import load_table

    enc = pandas_udf(encode, "string")
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    raw = events.select(enc("event_id", "event_type").alias("raw"))
    return resolve_wire(raw, decryptors=decryptors).select(
        F.get_json_object("payload", "$.eid").cast("bigint").alias("event_id"),
        F.get_json_object("payload", "$.etype").alias("event_type"),
        *cols,
    )


def _g1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decode_wire(spark, sf_dir, _wire_encode)


QUERIES["g1_wire_roundtrip"] = _g1


# ---------------------------------------------------------------------------
# g2: the ENCRYPTED wire path (G2) — AES/CBC/PKCS5 (Args.type=1, the
# RSA+AES lane of DecodeService.java:20-38 with the key-unwrap step played
# by a fixture resolver) and SM4/ECB/PKCS5 (type=2, MsgResolver.java:
# 109-125), plus compress+encrypt stacked (deflate, then encrypt, so the
# decoder's decrypt→inflate order is load-bearing), plus corrupted
# ciphertexts that must surface as PKCS5-validation error rows, never
# exceptions. The oracle recomputes expectations directly from `events`.
# ---------------------------------------------------------------------------
_G2_AES_KEY = "0123456789abcdef"
_G2_AES_IV = "fedcba9876543210"
_G2_SM4_KEY = b"sm4fixturekey016"


def _g2_encode(event_id: pd.Series, event_type: pd.Series) -> pd.Series:
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )

    def pad(b: bytes) -> bytes:
        n = 16 - len(b) % 16
        return b + bytes([n]) * n

    out = []
    for eid, etype in zip(event_id, event_type):
        eid = int(eid)
        payload = json.dumps({"eid": eid, "etype": etype}, sort_keys=True).encode()
        compress = eid % 3 == 0
        if compress:
            payload = zlib.compress(payload)
        if eid % 2:
            enc_type = 1
            c = Cipher(
                algorithms.AES(_G2_AES_KEY.encode()),
                modes.CBC(_G2_AES_IV.encode()),
            ).encryptor()
        else:
            enc_type = 2
            c = Cipher(algorithms.SM4(_G2_SM4_KEY), modes.ECB()).encryptor()
        blob = c.update(pad(payload)) + c.finalize()
        if eid % 97 == 13:  # corrupt the last block → PKCS5 must reject
            blob = blob[:-1] + bytes([blob[-1] ^ 0xFF])
        # transport encodings as the reference receives them: type-1
        # ciphertext travels HEX (DecodeService.string2ByteArr), type-2 is
        # hex or base64 (hutool auto-detects) — alternate to exercise both
        if enc_type == 1:
            event_str = blob.hex().upper()
        else:
            event_str = blob.hex() if eid % 4 == 0 else base64.b64encode(blob).decode()
        env = {
            "Ip": f"10.1.{eid % 256}.1",
            "Now": eid * 1000,
            "Header": "{}",
            # the real wire carries Args as a JSON-encoded STRING
            # (MsgResolver.java:74-80)
            "Args": json.dumps({"event": event_str,
                                "compress": int(compress), "encrypt": 1,
                                "type": enc_type, "key": "wrapped"}),
        }
        out.append(json.dumps(env))
    return pd.Series(out)


def _g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.operators.decode import aes_cbc_decryptor, sm4_ecb_decryptor

    # the key resolvers play the RSA/SM2 unwrap of Args.key — deployment
    # secrets in the reference, fixture constants here
    return _decode_wire(spark, sf_dir, _g2_encode, decryptors={
        1: aes_cbc_decryptor(lambda _k: (_G2_AES_KEY, _G2_AES_IV)),
        2: sm4_ecb_decryptor(lambda _k: _G2_SM4_KEY),
    })


QUERIES["g2_wire_crypto"] = _g2
ORACLE["g2_wire_crypto"] = """
SELECT CASE WHEN event_id % 97 = 13 THEN NULL ELSE event_id END AS event_id,
       CASE WHEN event_id % 97 = 13 THEN NULL ELSE event_type END AS event_type,
       '10.1.' || CAST(event_id % 256 AS VARCHAR) || '.1' AS ip,
       event_id * 1000 AS server_ts,
       CASE WHEN event_id % 97 = 13 THEN -1 ELSE 0 END AS result,
       CASE WHEN event_id % 97 = 13 THEN 1020001 ELSE 0 END AS error_code
FROM events"""


ORACLE["g1_wire_roundtrip"] = """
SELECT CASE WHEN event_id % 101 IN (5, 9) THEN NULL ELSE event_id END AS event_id,
       CASE WHEN event_id % 101 IN (5, 9) THEN NULL ELSE event_type END AS event_type,
       CASE WHEN event_id % 101 IN (5, 6, 9) THEN NULL
            ELSE '10.0.' || CAST(event_id % 256 AS VARCHAR) || '.1' END AS ip,
       CASE WHEN event_id % 101 IN (5, 7, 9) THEN NULL
            ELSE event_id * 1000 END AS server_ts,
       CASE WHEN event_id % 101 IN (5, 6, 7, 8, 9) THEN -1 ELSE 0 END AS result,
       CASE WHEN event_id % 101 = 5 THEN 1020001
            WHEN event_id % 101 IN (6, 9) THEN 1010003
            WHEN event_id % 101 = 7 THEN 1010004
            WHEN event_id % 101 = 8 THEN 1010005
            ELSE 0 END AS error_code
FROM events"""


# ---------------------------------------------------------------------------
# g3: the REAL RSA key-unwrap lane (MsgResolver.java:127-134 +
# DecodeService.java:20-33): Args.key is base64 RSA/PKCS1v15 ciphertext of
# "<aes_key>,<iv>", the ciphertext itself travels HEX
# (DecodeService.string2ByteArr:55-62), and decode = rsaDecrypt(key) →
# split(",") → AES/CBC/PKCS5. The unwrap MECHANISM is fully real
# (cryptography RSA, PKCS8-DER private key exactly as the reference loads
# it); only the production key material is a deployment secret — the test
# pair is minted per process. Corrupt classes: an undecryptable Args.key
# and a comma-less unwrapped plaintext (the reference's keys[1] index
# error) must both surface as error rows.
# ---------------------------------------------------------------------------
@functools.cache
def _g3_fixture() -> dict:
    import hashlib

    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import padding as apad, rsa

    priv = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    der = priv.private_bytes(
        serialization.Encoding.DER,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption(),
    )
    pub = priv.public_key()
    keys, wrapped = [], []
    for i in range(16):  # small key space → the unwrap cache stays O(keys)
        secret = hashlib.md5(f"k{i}".encode()).hexdigest()[:16]
        iv = hashlib.md5(f"iv{i}".encode()).hexdigest()[:16]
        keys.append((secret, iv))
        wrapped.append(base64.b64encode(
            pub.encrypt(f"{secret},{iv}".encode(), apad.PKCS1v15())
        ).decode())
    return dict(
        der_b64=base64.b64encode(der).decode(),
        keys=keys,
        wrapped=wrapped,
        bad_rsa=base64.b64encode(b"\x00" * 256).decode(),
        no_comma=base64.b64encode(
            pub.encrypt(b"lonekeywithoutiv", apad.PKCS1v15())
        ).decode(),
    )


def _g3_make_encoder(fx: dict):
    keys, wrapped = fx["keys"], fx["wrapped"]
    bad_rsa, no_comma = fx["bad_rsa"], fx["no_comma"]

    def encode(event_id: pd.Series, event_type: pd.Series) -> pd.Series:
        from cryptography.hazmat.primitives.ciphers import (
            Cipher, algorithms, modes,
        )

        out = []
        for eid, etype in zip(event_id, event_type):
            eid = int(eid)
            secret, iv = keys[eid % 16]
            payload = json.dumps(
                {"eid": eid, "etype": etype}, sort_keys=True
            ).encode()
            pad = 16 - len(payload) % 16
            e = Cipher(
                algorithms.AES(secret.encode()), modes.CBC(iv.encode())
            ).encryptor()
            blob = e.update(payload + bytes([pad]) * pad) + e.finalize()
            cls = eid % 89
            if cls == 7:
                key_str = bad_rsa      # RSA decrypt fails → 1020001
            elif cls == 17:
                key_str = no_comma     # keys[1] missing → 1020001
            else:
                key_str = wrapped[eid % 16]
            env = {
                "Ip": f"10.2.{eid % 256}.1",
                "Now": eid * 1000,
                # user-agent rides the Header map (MsgResolver.java:63-70)
                "Header": (json.dumps({"user-agent": f"ZG-UA/{eid % 7}"})
                           if eid % 3 == 0 else "{}"),
                "Args": json.dumps({"event": blob.hex().upper(), "compress": 0,
                                    "encrypt": 1, "type": 1, "key": key_str}),
            }
            out.append(json.dumps(env))
        return pd.Series(out)

    return encode


def _g3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.operators.decode import aes_cbc_decryptor, rsa_key_unwrapper

    fx = _g3_fixture()
    return _decode_wire(spark, sf_dir, _g3_make_encoder(fx),
                        ("ip", "server_ts", "ua", "result", "error_code"),
                        decryptors={1: aes_cbc_decryptor(
                            rsa_key_unwrapper(fx["der_b64"]))})


QUERIES["g3_rsa_unwrap"] = _g3
ORACLE["g3_rsa_unwrap"] = """
SELECT CASE WHEN event_id % 89 IN (7, 17) THEN NULL ELSE event_id END AS event_id,
       CASE WHEN event_id % 89 IN (7, 17) THEN NULL ELSE event_type END AS event_type,
       '10.2.' || CAST(event_id % 256 AS VARCHAR) || '.1' AS ip,
       event_id * 1000 AS server_ts,
       CASE WHEN event_id % 3 = 0 THEN 'ZG-UA/' || CAST(event_id % 7 AS VARCHAR)
            ELSE 'DEFAULT' END AS ua,
       CASE WHEN event_id % 89 IN (7, 17) THEN -1 ELSE 0 END AS result,
       CASE WHEN event_id % 89 IN (7, 17) THEN 1020001 ELSE 0 END AS error_code
FROM events"""


# ---------------------------------------------------------------------------
# g4: the REAL SM2 key-unwrap lane (MsgResolver.java:109-125): Args.key is
# HEX SM2 C1C3C2 ciphertext of "<sm4_key_hex>[,tag]" — the "04"
# uncompressed-point prefix may be absent on the wire (:112-114, the
# resolver re-adds it), split(",")[0] is the hex SM4 key, and the event
# decrypts SM4/ECB/PKCS5. The SM2 math is the pure-Python GB/T 32918
# implementation (functions/sm_crypto.py — no SM lib in this container);
# the test pair is minted per process exactly like g3's RSA pair. Corrupt
# classes: a C3-MAC-tampered Args.key and a non-point Args.key must both
# surface as error rows (1020001, the reference's decrypt-exception
# attribution).
# ---------------------------------------------------------------------------
@functools.cache
def _g4_fixture() -> dict:
    import hashlib

    from zg_etl_spark.functions.sm_crypto import sm2_encrypt_hex, sm2_keypair

    d, pub = sm2_keypair()
    keys, wrapped = [], []
    for i in range(16):  # small key space → the unwrap cache stays O(keys)
        sm4_key = hashlib.md5(f"sm4k{i}".encode()).digest()  # 16 bytes
        keys.append(sm4_key)
        # odd slots carry a ",tag" suffix (split(",")[0] must drop it);
        # even slots ship WITHOUT the "04" prefix (the resolver re-adds).
        # A prefix-stripped wire whose x1 hex itself begins "04" would
        # parse as already-prefixed from shifted offsets — re-mint until
        # the stripped form is unambiguous (~1/256 per draw)
        plain = sm4_key.hex() + (f",tag{i}" if i % 2 else "")
        ct = sm2_encrypt_hex(pub, plain.encode())
        while i % 2 == 0 and ct[2:4] == "04":
            ct = sm2_encrypt_hex(pub, plain.encode())
        wrapped.append(ct if i % 2 else ct[2:])
    good = sm2_encrypt_hex(pub, (keys[0].hex() + ",x").encode())
    raw = bytearray(bytes.fromhex(good))
    raw[-1] ^= 0xFF  # flip a C2 byte → C3 MAC mismatch
    return dict(
        d_hex=format(d, "x"),
        keys=keys,
        wrapped=wrapped,
        tampered=raw.hex(),
        not_a_point="04" + "11" * 96 + "22" * 16,
    )


def _g4_make_encoder(fx: dict):
    keys, wrapped = fx["keys"], fx["wrapped"]
    tampered, not_a_point = fx["tampered"], fx["not_a_point"]

    def encode(event_id: pd.Series, event_type: pd.Series) -> pd.Series:
        from cryptography.hazmat.primitives.ciphers import (
            Cipher, algorithms, modes,
        )

        out = []
        for eid, etype in zip(event_id, event_type):
            eid = int(eid)
            sm4_key = keys[eid % 16]
            payload = json.dumps(
                {"eid": eid, "etype": etype}, sort_keys=True
            ).encode()
            pad = 16 - len(payload) % 16
            e = Cipher(algorithms.SM4(sm4_key), modes.ECB()).encryptor()
            blob = e.update(payload + bytes([pad]) * pad) + e.finalize()
            cls = eid % 83
            if cls == 11:
                key_str = tampered     # C3 MAC mismatch → 1020001
            elif cls == 29:
                key_str = not_a_point  # C1 off-curve → 1020001
            else:
                key_str = wrapped[eid % 16]
            env = {
                "Ip": f"10.3.{eid % 256}.1",
                "Now": eid * 1000,
                "Header": "{}",
                "Args": json.dumps({
                    # type-2 transport: hex or base64 (hutool auto-detects)
                    "event": (blob.hex() if eid % 4 == 0
                              else base64.b64encode(blob).decode()),
                    "compress": 0, "encrypt": 1, "type": 2, "key": key_str,
                }),
            }
            out.append(json.dumps(env))
        return pd.Series(out)

    return encode


def _g4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zg_etl_spark.operators.decode import sm2_key_unwrapper, sm4_ecb_decryptor

    fx = _g4_fixture()
    return _decode_wire(spark, sf_dir, _g4_make_encoder(fx), decryptors={
        2: sm4_ecb_decryptor(sm2_key_unwrapper(fx["d_hex"]))})


QUERIES["g4_sm2_unwrap"] = _g4
ORACLE["g4_sm2_unwrap"] = """
SELECT CASE WHEN event_id % 83 IN (11, 29) THEN NULL ELSE event_id END AS event_id,
       CASE WHEN event_id % 83 IN (11, 29) THEN NULL ELSE event_type END AS event_type,
       '10.3.' || CAST(event_id % 256 AS VARCHAR) || '.1' AS ip,
       event_id * 1000 AS server_ts,
       CASE WHEN event_id % 83 IN (11, 29) THEN -1 ELSE 0 END AS result,
       CASE WHEN event_id % 83 IN (11, 29) THEN 1020001 ELSE 0 END AS error_code
FROM events"""
