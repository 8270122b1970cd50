"""Adversarial wire-input fuzz: resolve_wire must NEVER throw — every
malformed input becomes an error row (result=-1 with an attributed
error code), exactly the reference's ResolveException → errData path
(service/MsgResolver.java:33-98). One bad Kafka record must not abort
a 100 TB ingest."""

from __future__ import annotations

import base64
import json
import zlib

from hypothesis import HealthCheck, given, settings, strategies as st


def _wire(args_event, compress=0, encrypt=0, enc_type=1, key=None,
          ip="1.2.3.4", now=1000, header="{}"):
    env = {"Ip": ip, "Now": now, "Header": header,
           "Args": {"event": args_event, "compress": compress,
                    "encrypt": encrypt, "type": enc_type, "key": key}}
    return json.dumps(env)


# raw garbage: random text, random JSON-ish, random base64, control chars
_garbage = st.one_of(
    st.text(max_size=80),
    st.binary(max_size=60).map(lambda b: base64.b64encode(b).decode()),
    st.binary(max_size=60).map(lambda b: b.decode("latin1")),
    st.just("definitely not json {{{"),
    st.just(""),
)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(payload=_garbage, compress=st.integers(0, 1), encrypt=st.integers(0, 1),
       enc_type=st.sampled_from([0, 1, 2, 7]))
def test_resolve_wire_never_throws(spark, payload, compress, encrypt, enc_type):
    from zg_etl_spark.operators.decode import resolve_wire

    raws = [
        _wire(payload, compress, encrypt, enc_type),
        payload,                                  # whole message garbage
        _wire(payload, compress, encrypt, enc_type, ip=None),
        _wire(payload, compress, encrypt, enc_type, now=None),
    ]
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    rows = resolve_wire(df).collect()
    assert len(rows) == len(raws)
    for r in rows:
        assert r.result in (0, -1)
        if r.result == -1:
            assert r.error_code in (1020001, 1010003, 1010004, 1010005)
        else:
            assert r.error_code == 0 and r.payload is not None


def test_resolve_wire_zlib_bomb_truncated(spark):
    """Truncated/corrupt zlib streams and non-base64 compress payloads
    must come back as 1020001 error rows, not exceptions."""
    from zg_etl_spark.operators.decode import resolve_wire

    good = base64.b64encode(zlib.compress(b'{"ok":1}')).decode()
    cases = [
        _wire(good[: len(good) // 2], compress=1),   # truncated base64/zlib
        _wire("!!!not-base64!!!", compress=1),
        _wire(base64.b64encode(b"\x78\x9c\x00").decode(), compress=1),
        _wire(good, compress=1),                     # control: valid
    ]
    df = spark.createDataFrame([(r,) for r in cases], "raw string")
    rows = resolve_wire(df).collect()
    assert [r.result for r in rows[:3]] == [-1, -1, -1]
    assert rows[3].result == 0 and rows[3].payload == '{"ok":1}'


def test_garbage_wire_with_real_decryptor_registered(spark):
    """Regression: with a REAL decryptor registered (as any deployment
    has), garbage encrypted wires — None key, non-base64 key, junk
    ciphertext — must become error rows, never executor exceptions. The
    reference wraps the whole resolve in catch(Exception) → result=-1
    (GateFlatMapFunction.java:105-110); the narrow except clause used to
    let a TypeError from base64(None) abort the job when tests (or a
    deployment) had registered the RSA unwrapper."""
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    from zg_etl_spark.operators.decode import (
        aes_cbc_decryptor,
        resolve_wire,
        rsa_key_unwrapper,
    )

    priv = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    der_b64 = base64.b64encode(priv.private_bytes(
        serialization.Encoding.DER,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption(),
    )).decode()
    rsa_aes = {1: aes_cbc_decryptor(rsa_key_unwrapper(der_b64))}
    wires = [
        _wire("00", encrypt=1, key=None),
        _wire("zz not hex", encrypt=1, key="not-base64!!"),
        _wire("00" * 16, encrypt=1, key="QUJD"),  # undecryptable key
    ]
    out = resolve_wire(
        spark.createDataFrame([(w,) for w in wires], "raw STRING"),
        decryptors=rsa_aes,
    ).collect()
    assert [r.result for r in out] == [-1, -1, -1]
