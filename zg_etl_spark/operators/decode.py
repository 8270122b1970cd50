"""Wire-format decode stage (G1/G2).

The reference's MsgResolver (service/MsgResolver.java:33-98) parses the
raw wire JSON `{Ip, Now, Header, Args{event, compress, encrypt, type, key}}`,
zlib-inflates when ``compress=1`` (MsgResolver.java:140), RSA/AES- or
SM2/SM4-decrypts when ``encrypt=1`` (MsgResolver.java:109-135,
service/DecodeService.java:20-52), then injects ``ip``/``st``/``ua`` into
the payload (MsgResolver.java:93-95).

Spark mapping: the JSON envelope is `from_json` (JVM-side); only the
inflate/decrypt byte transforms need Python — implemented as ONE
Arrow-batched Pandas UDF (zlib is stdlib; crypto is pluggable and stubbed
when the library is absent, mirroring how the reference keys are
deployment secrets we cannot have). Malformed payloads become error rows
(result=-1, PERMISSIVE-style), never exceptions — the reference's
ResolveException → errData path.
"""

from __future__ import annotations

import base64
import zlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

WIRE_SCHEMA = "Ip STRING, Now BIGINT, Header STRING"
# the real wire carries Args as a JSON-ENCODED STRING ((String) argsObj →
# mapFromJson, MsgResolver.java:74-80); get_json_object returns the object
# text for an inline-object Args too, so both shapes parse (lenient
# superset of the reference, which rejects non-string Args)
ARGS_SCHEMA = "event STRING, compress INT, encrypt INT, type INT, key STRING"

def _make_decode_fn(decryptors: dict):
    """Build the batch decode fn closing over the caller's decryptors —
    the UDF runs in executor Python workers, so the closure carries them
    by value."""

    def decode(event: pd.Series, compress: pd.Series, encrypt: pd.Series,
               enc_type: pd.Series, key: pd.Series) -> pd.Series:
        out = []
        for ev, comp, enc, typ, k in zip(event, compress, encrypt, enc_type, key):
            if ev is None:
                out.append(None)
                continue
            try:
                if enc == 1:
                    typ = int(typ) if typ is not None else 1
                    # transport encodings follow the reference exactly:
                    # type-1 ciphertext is HEX (DecodeService.string2ByteArr
                    # :55-62); type-2 is hex-or-base64 (hutool SymmetricCrypto
                    # auto-detects, MsgResolver.java:109-125)
                    if typ == 1:
                        raw = bytes.fromhex(ev)
                    else:
                        try:
                            raw = bytes.fromhex(ev)
                        except ValueError:
                            raw = base64.b64decode(ev)
                    dec = decryptors.get(typ)
                    if dec is None:
                        out.append(None)  # no decryptor wired → error row
                        continue
                    raw = dec(raw, k)
                    if comp == 1:
                        raw = zlib.decompress(raw)
                    out.append(raw.decode("utf-8"))
                elif comp == 1:
                    # ZlibUtil.decodeAll path incl. the '+'-mangled-to-space
                    # transport repair (MsgResolver.java:139)
                    raw = zlib.decompress(base64.b64decode(ev.replace(" ", "+")))
                    out.append(raw.decode("utf-8"))
                else:
                    out.append(ev)
            except Exception:  # noqa: BLE001 — faithful to the reference:
                # GateFlatMapFunction wraps MsgResolver.resolve in
                # catch(Exception) → result=-1 error row; a plugged
                # decryptor throwing on garbage (None key, bad wrap, any
                # cipher error) must NEVER abort the job
                out.append(None)
        return pd.Series(out)

    return decode


def resolve_wire(raw: DataFrame, raw_col: str = "raw",
                 decryptors: dict | None = None) -> DataFrame:
    """Wire JSON string column → decoded payload column + error flag.

    ``decryptors`` plugs the deployment ciphers, enc type ->
    fn(ciphertext: bytes, key: str) -> bytes: type 1 = RSA+AES
    (DecodeService.java:20-38), 2 = SM2+SM4 (:40-52). An encrypted event
    whose type has none wired is an error row.

    Output columns: ip, server_ts, payload (decoded inner-event JSON
    string), result (0 ok / -1 error — ZGMessage.result semantics,
    entity/ZGMessage.java:18-50).
    """
    parsed = raw.withColumn(
        "_w", F.from_json(F.col(raw_col), WIRE_SCHEMA)
    ).withColumn(
        "_args",
        F.from_json(F.get_json_object(F.col(raw_col), "$.Args"), ARGS_SCHEMA),
    )
    decoded = parsed.withColumn(
        "payload",
        # pandas_udf needs an active session → created here, not at import
        pandas_udf(_make_decode_fn(dict(decryptors or {})), "string")(
            F.col("_args.event"),
            F.coalesce(F.col("_args.compress"), F.lit(0)),
            F.coalesce(F.col("_args.encrypt"), F.lit(0)),
            F.coalesce(F.col("_args.type"), F.lit(1)),
            F.col("_args.key"),
        ),
    )
    # per-field failure attribution, the MsgResolver ResolveException
    # reasons (ErrorMessageEnum): whole-message not JSON → 1020001
    # JSON_FORMAT_ERROR; Ip missing/mistyped → 1010003 IP_NONE; Now →
    # 1010004 NOW_NONE; Header → 1010005 HEADER_NONE; inner-event decode
    # failure → 1020001
    # PERMISSIVE from_json renders non-JSON as an all-null struct — but so
    # is a syntactically VALID envelope that simply lacks every field
    # (`{}`), which the reference fails on the Ip check (1010003), not as
    # JSON_FORMAT_ERROR (MsgResolver.java:33-98 checks fields in order
    # AFTER readTree succeeds). try_parse_json distinguishes the two
    # JVM-side: only genuinely unparseable input is 1020001 here.
    not_json = F.try_parse_json(F.col(raw_col)).isNull()
    error_code = (
        F.when(not_json, F.lit(1020001))
        .when(F.col("_w.Ip").isNull(), F.lit(1010003))
        .when(F.col("_w.Now").isNull(), F.lit(1010004))
        .when(F.col("_w.Header").isNull(), F.lit(1010005))
        .when(F.col("payload").isNull(), F.lit(1020001))
        .otherwise(F.lit(0))
    )
    # user-agent injection (MsgResolver.java:63-70,95): Header's
    # `user-agent` key when present and string-typed, else "DEFAULT";
    # NULL when the Header itself is absent/unparsed
    ua = F.when(
        F.col("_w.Header").isNotNull(),
        F.coalesce(
            F.get_json_object(F.col("_w.Header"), "$['user-agent']"),
            F.lit("DEFAULT"),
        ),
    )
    return decoded.select(
        F.col("_w.Ip").alias("ip"),
        F.col("_w.Now").alias("server_ts"),
        ua.alias("ua"),
        "payload",
        error_code.alias("error_code"),
        F.when(error_code != 0, F.lit(-1)).otherwise(F.lit(0)).alias("result"),
    )


def _pkcs5_unpad(padded: bytes) -> bytes:
    """Validated PKCS5/PKCS7 unpad. A bare ``padded[:-padded[-1]]`` breaks
    three ways: empty input → IndexError; trailing 0x00 → silently returns
    b''; a corrupt pad byte >16 eats real plaintext. Invalid padding raises
    ValueError, which the decode UDF maps to result=-1 (the reference's
    ResolveException → errData path)."""
    if not padded or len(padded) % 16:
        raise ValueError("ciphertext not block-aligned")
    pad = padded[-1]
    if not 1 <= pad <= 16 or padded[-pad:] != bytes([pad]) * pad:
        raise ValueError("invalid PKCS5 padding")
    return padded[:-pad]


def aes_cbc_decryptor(key_resolver):
    """Real AES/CBC/PKCS5Padding decryptor — the reference's cipher
    (common/util/AESUtil.java:22, UTF-8 key/iv bytes, base64 ciphertext).

    ``key_resolver(wire_key) -> (secret, iv)`` plays the RSA step
    (service/DecodeService.java:20-38: the deployment's private key
    decrypts the per-message AES key carried in ``Args.key``) — key
    management stays pluggable, the cipher itself is real. Wire with
    ``resolve_wire(raw, decryptors={1: aes_cbc_decryptor(resolver)})``.
    """
    def decrypt(raw: bytes, wire_key: str) -> bytes:
        # imported HERE, not in the factory: the UDF closure is
        # cloudpickled to executor workers, and cryptography's module
        # objects don't pickle — the import must re-run worker-side
        from cryptography.hazmat.primitives.ciphers import (
            Cipher, algorithms, modes,
        )

        secret, iv = key_resolver(wire_key)
        # mode selection by iv presence, exactly DecodeService.java:40-50:
        # non-empty iv → AES/CBC, empty → AES/ECB
        mode = modes.CBC(iv.encode()) if iv else modes.ECB()
        d = Cipher(algorithms.AES(secret.encode()), mode).decryptor()
        padded = d.update(raw) + d.finalize()
        return _pkcs5_unpad(padded)

    return decrypt


def rsa_key_unwrapper(private_key_der_b64: str):
    """REAL RSA key-unwrap for the type-1 lane (MsgResolver.java:127-134
    + DecodeService.java:20-33): ``Args.key`` is base64 RSA ciphertext
    (Java ``Cipher.getInstance("RSA")`` = RSA/ECB/PKCS1Padding) of the
    UTF-8 string ``"<aes_key>,<iv>"`` — ``split(",")`` then
    ``aesDecode(event, keys[0], keys[1])``; a comma-less plaintext throws
    (the reference's ``keys[1]`` index error → ResolveException → error
    row). The private key is base64 PKCS8 DER, the exact format the
    reference loads (PKCS8EncodedKeySpec); in production it is a
    deployment secret (SecretUtils-encrypted on disk) — tests mint their
    own pair. Unwraps are cached per wire key: the reference pays the
    RSA per message, the worker-side cache is the batch equivalent of a
    key cache and keeps cost O(distinct keys), not O(rows)."""
    cache: dict[str, tuple[str, str]] = {}
    loaded: list = []  # the deserialized key object, built worker-side

    def resolve(wire_key: str) -> tuple[str, str]:
        if wire_key in cache:
            return cache[wire_key]
        from cryptography.hazmat.primitives import serialization
        from cryptography.hazmat.primitives.asymmetric import padding as apad

        if not loaded:
            loaded.append(serialization.load_der_private_key(
                base64.b64decode(private_key_der_b64), password=None
            ))
        plain = loaded[0].decrypt(
            base64.b64decode(wire_key), apad.PKCS1v15()
        ).decode("utf-8")
        # Java split(",") drops TRAILING empty strings — "key," yields one
        # part, so the reference's keys[1] throws even though an iv comma
        # is present; replicate that exactly
        parts = plain.split(",")
        while parts and parts[-1] == "":
            parts.pop()
        if len(parts) < 2:
            raise ValueError("unwrapped key plaintext lacks the iv part")
        cache[wire_key] = (parts[0], parts[1])
        return cache[wire_key]

    return resolve


def sm2_key_unwrapper(private_key_hex: str):
    """REAL SM2 key-unwrap for the type-2 lane (MsgResolver.java:109-125):
    ``Args.key`` is HEX ("Bcd") SM2 ciphertext — C1C3C2 order, hutool's
    default — with a tolerated missing ``04`` uncompressed-point prefix
    (:112-114). The decrypted UTF-8 plaintext's segment before the first
    comma is the HEX-encoded SM4 key (``split(",")[0]``, :116-123).
    The SM2 math is the pure-Python GB/T 32918 implementation in
    functions/sm_crypto.py (no SM lib exists in this container); the
    private key is the hex scalar d, as hutool's ``SmUtil.sm2(priKey,
    null)`` consumes it. Unwraps are cached per wire key — FAILURES
    included, since the pure-Python EC math is the expensive part and a
    bad key repeats on every row carrying it — so the cost stays
    O(distinct keys), never O(rows)."""
    cache: dict = {}
    d = int(private_key_hex, 16)

    def resolve(wire_key: str) -> bytes:
        if wire_key not in cache:
            from zg_etl_spark.functions.sm_crypto import sm2_decrypt_hex

            ct = wire_key if wire_key.startswith("04") else "04" + wire_key
            try:
                plain = sm2_decrypt_hex(d, ct).decode("utf-8")
                cache[wire_key] = bytes.fromhex(plain.split(",")[0])
            except Exception as exc:
                cache[wire_key] = exc
        hit = cache[wire_key]
        if isinstance(hit, Exception):
            raise ValueError(str(hit))
        return hit

    return resolve


def sm4_ecb_decryptor(key_resolver):
    """SM4/ECB/PKCS5Padding decryptor — the reference's type-2 cipher
    (MsgResolver.java:109-125: hutool ``SmUtil.sm4`` default mode over a
    key recovered by SM2-decrypting ``Args.key``). ``key_resolver(wire_key)
    -> key_bytes`` plays that SM2 step — ``sm2_key_unwrapper`` above is
    the REAL one (g4 exercises it end-to-end); a constant resolver works
    for transport-focused tests (g2). Wire with
    ``resolve_wire(raw, decryptors={2: sm4_ecb_decryptor(r)})``.
    """

    def decrypt(raw: bytes, wire_key: str) -> bytes:
        from cryptography.hazmat.primitives.ciphers import (
            Cipher, algorithms, modes,
        )

        d = Cipher(algorithms.SM4(key_resolver(wire_key)), modes.ECB()).decryptor()
        padded = d.update(raw) + d.finalize()
        return _pkcs5_unpad(padded)

    return decrypt
