"""G2 wire decode + sink writer tests."""

from __future__ import annotations

import base64
import json
import zlib

import pytest

from pyspark.sql import functions as F

from zg_etl_spark.operators.decode import resolve_wire
from zg_etl_spark.sinks import (
    export_stream_load_csv,
    keep_latest,
    upsert_table,
    write_partitioned,
)


def _wire(payload: dict, compress: int = 0, encrypt: int = 0, key: str | None = None) -> str:
    event = json.dumps(payload)
    if compress == 1:
        event = base64.b64encode(zlib.compress(event.encode())).decode()
    return json.dumps(
        {
            "Ip": "1.2.3.4",
            "Now": 1700000000,
            "Header": "{}",
            "Args": {"event": event, "compress": compress, "encrypt": encrypt,
                     "type": 1, "key": key},
        }
    )


def test_resolve_plain_and_compressed(spark):
    payload = {"ak": "ak_1", "pl": "js", "data": [{"dt": "evt"}]}
    rows = [
        (_wire(payload),),                 # plaintext
        (_wire(payload, compress=1),),     # zlib+base64
        ("not json at all",),              # malformed wire
        (_wire({"x": 1}, encrypt=1),),     # encrypted, no decryptor wired
    ]
    out = resolve_wire(spark.createDataFrame(rows, "raw STRING")).collect()
    assert [r.result for r in out] == [0, 0, -1, -1]
    assert json.loads(out[0].payload) == payload
    assert json.loads(out[1].payload) == payload  # round-trips the inflate
    assert out[0].ip == "1.2.3.4" and out[0].server_ts == 1700000000


def test_resolve_with_plugged_decryptor(spark):
    # XOR "cipher" stands in for the RSA/AES path: proves the plug point
    xor = {1: lambda raw, key: bytes(b ^ 0x5A for b in raw)}
    payload = {"ak": "ak_2"}
    ct = bytes(b ^ 0x5A for b in json.dumps(payload).encode())
    wire = json.dumps(
        {"Ip": "4.3.2.1", "Now": 1, "Header": "{}",
         "Args": {"event": ct.hex(), "compress": 0,
                  "encrypt": 1, "type": 1, "key": "k"}}
    )
    out = resolve_wire(spark.createDataFrame([(wire,)], "raw STRING"),
                       decryptors=xor).collect()
    assert out[0].result == 0
    assert json.loads(out[0].payload) == payload


def test_keep_latest_and_upsert(spark, tmp_path):
    path = str(tmp_path / "b_user")
    t1 = spark.createDataFrame(
        [(1, "d1", 10, 100), (1, "d2", 11, 101)],
        "app_id INT, device_id STRING, zg_id INT, seq INT",
    )
    upsert_table(spark, t1, path, keys=["app_id", "device_id"], order_col="seq")
    # second batch updates d1, adds d3
    t2 = spark.createDataFrame(
        [(1, "d1", 99, 200), (1, "d3", 12, 201)],
        "app_id INT, device_id STRING, zg_id INT, seq INT",
    )
    upsert_table(spark, t2, path, keys=["app_id", "device_id"], order_col="seq")
    got = {r.device_id: r.zg_id for r in spark.read.parquet(path).collect()}
    assert got == {"d1": 99, "d2": 11, "d3": 12}


def test_upsert_is_partition_scoped(spark, tmp_path):
    """An upsert batch touching only app 1 must not rewrite app 2's
    partition files — the 100 TB contract (days rewritten, not tables)."""
    import glob
    import os

    path = str(tmp_path / "b_user_p")
    t1 = spark.createDataFrame(
        [(1, "d1", 10, 100), (2, "d9", 20, 100)],
        "app_id INT, device_id STRING, zg_id INT, seq INT",
    )
    upsert_table(
        spark, t1, path, keys=["app_id", "device_id"], order_col="seq",
        partition_cols=["app_id"],
    )
    app2_files = sorted(glob.glob(os.path.join(path, "app_id=2", "*.parquet")))
    app2_mtimes = [os.path.getmtime(f) for f in app2_files]
    t2 = spark.createDataFrame(
        [(1, "d1", 99, 200), (1, "d3", 12, 201)],
        "app_id INT, device_id STRING, zg_id INT, seq INT",
    )
    upsert_table(
        spark, t2, path, keys=["app_id", "device_id"], order_col="seq",
        partition_cols=["app_id"],
    )
    got = {r.device_id: r.zg_id for r in spark.read.parquet(path).collect()}
    assert got == {"d1": 99, "d3": 12, "d9": 20}
    # app 2's partition kept its exact files (same names, same mtimes)
    assert sorted(glob.glob(os.path.join(path, "app_id=2", "*.parquet"))) == app2_files
    assert [os.path.getmtime(f) for f in app2_files] == app2_mtimes


def test_upsert_null_partition_value_keeps_siblings(spark, tmp_path):
    """A NULL partition value must still merge against its existing rows:
    a plain == predicate evaluates to NULL for every existing row, so the
    null partition would be dynamically overwritten with ONLY the incoming
    rows — silently deleting the other keys that live there."""
    path = str(tmp_path / "b_user_null")
    t1 = spark.createDataFrame(
        [(None, "dA", 1, 100), (None, "dB", 2, 100), (7, "dC", 3, 100)],
        "app_id INT, device_id STRING, zg_id INT, seq INT",
    )
    upsert_table(
        spark, t1, path, keys=["app_id", "device_id"], order_col="seq",
        partition_cols=["app_id"],
    )
    t2 = spark.createDataFrame(
        [(None, "dA", 99, 200)],
        "app_id INT, device_id STRING, zg_id INT, seq INT",
    )
    upsert_table(
        spark, t2, path, keys=["app_id", "device_id"], order_col="seq",
        partition_cols=["app_id"],
    )
    got = {r.device_id: (r.app_id, r.zg_id) for r in spark.read.parquet(path).collect()}
    # dA updated, dB SURVIVES in the null partition, dC untouched
    assert got == {"dA": (None, 99), "dB": (None, 2), "dC": (7, 3)}


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "events_wide")
    df = spark.createDataFrame(
        [(1, 20240101, "a"), (1, 20240102, "b"), (2, 20240101, "c")],
        "app_id INT, begin_day_id INT, v STRING",
    )
    write_partitioned(df, path, ["app_id", "begin_day_id"], dynamic=False)
    pruned = spark.read.parquet(path).filter(
        (F.col("app_id") == 1) & (F.col("begin_day_id") == 20240102)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 1
    # partition filters reach the scan (no full-table read)
    assert "PartitionFilters: [" in plan and "begin_day_id" in plan.split("PartitionFilters")[1][:200]


def test_stream_load_csv_nulls(spark, tmp_path):
    path = str(tmp_path / "csv_out")
    df = spark.createDataFrame([(1, None), (2, "x")], "id INT, v STRING")
    export_stream_load_csv(df, path)
    import glob

    lines = sorted(
        line
        for f in glob.glob(path + "/part-*.csv")
        for line in open(f).read().splitlines()
    )
    assert lines == ["1\t\\N", "2\tx"]


def _aes_encrypt(secret: str, iv: str, content: bytes) -> bytes:
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )

    pad = 16 - len(content) % 16
    e = Cipher(algorithms.AES(secret.encode()), modes.CBC(iv.encode())).encryptor()
    return e.update(content + bytes([pad]) * pad) + e.finalize()


def test_resolve_with_real_aes(spark):
    """AES/CBC/PKCS5 round trip through the decode stage — the reference's
    actual cipher (AESUtil.java), with the RSA key step as a resolver."""
    import json
    import zlib as _zlib

    from zg_etl_spark.operators.decode import aes_cbc_decryptor

    secret, iv = "0123456789abcdef", "fedcba9876543210"
    aes = {1: aes_cbc_decryptor(lambda wire_key: (secret, iv))}
    payload = json.dumps({"ak": "ak_1", "data": [{"dt": "evt"}]}).encode()

    cases = [
        # encrypt only
        {"encrypt": 1, "compress": 0, "event": _aes_encrypt(secret, iv, payload)},
        # compress-then-encrypt (decode runs decrypt -> inflate)
        {"encrypt": 1, "compress": 1,
         "event": _aes_encrypt(secret, iv, _zlib.compress(payload))},
    ]
    rows = []
    for c in cases:
        rows.append((json.dumps({
            "Ip": "1.2.3.4", "Now": 1700000000, "Header": "{}",
            # type-1 ciphertext travels HEX (DecodeService.string2ByteArr)
            "Args": {"event": c["event"].hex().upper(),
                     "compress": c["compress"], "encrypt": c["encrypt"],
                     "type": 1, "key": "enc_key_blob"},
        }),))
    out = resolve_wire(spark.createDataFrame(rows, "raw string"),
                       decryptors=aes).collect()
    assert all(r.result == 0 for r in out), out
    assert all(json.loads(r.payload) == json.loads(payload) for r in out)


def test_resolve_with_real_sm4(spark):
    """SM4/ECB round trip (the type-2 national-standard cipher), with the
    SM2 key-unwrap step as a resolver."""
    import json

    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )

    from zg_etl_spark.operators.decode import sm4_ecb_decryptor

    key = b"0123456789abcdef"
    sm4 = {2: sm4_ecb_decryptor(lambda wire_key: key)}
    payload = json.dumps({"ak": "ak_2", "data": [{"dt": "usr"}]}).encode()
    pad = 16 - len(payload) % 16
    e = Cipher(algorithms.SM4(key), modes.ECB()).encryptor()
    ct = e.update(payload + bytes([pad]) * pad) + e.finalize()

    wire = json.dumps({
        "Ip": "4.3.2.1", "Now": 1700000001, "Header": "{}",
        "Args": {"event": base64.b64encode(ct).decode(), "compress": 0,
                 "encrypt": 1, "type": 2, "key": "sm2_blob"},
    })
    out = resolve_wire(spark.createDataFrame([(wire,)], "raw string"),
                       decryptors=sm4).collect()
    assert out[0].result == 0, out
    assert json.loads(out[0].payload) == json.loads(payload)


def test_pkcs5_unpad_validation():
    """The naive padded[:-padded[-1]] unpad has three failure modes the
    validated version must close: empty input crashed, trailing 0x00
    silently emptied the plaintext, and a corrupt pad byte ate real data."""
    import pytest

    from zg_etl_spark.operators.decode import _pkcs5_unpad

    assert _pkcs5_unpad(b"hello world\x05\x05\x05\x05\x05") == b"hello world"
    assert _pkcs5_unpad(bytes([16] * 16)) == b""  # full-block pad
    for bad in (
        b"",                                    # empty → was IndexError
        bytes(16),                              # trailing 0x00 → was b''
        b"0123456789abcde\x11",                 # pad byte 17 > block size
        b"0123456789abc\x01\x03\x03",           # pad bytes don't all match
        b"short\x03\x03\x03",                   # not block-aligned
    ):
        with pytest.raises(ValueError):
            _pkcs5_unpad(bad)


def test_tampered_ciphertext_is_error_row(spark):
    """Corrupt AES ciphertext must become result=-1 (the reference's
    ResolveException → errData path), never an executor exception."""
    from zg_etl_spark.operators.decode import aes_cbc_decryptor

    secret, iv = "0123456789abcdef", "fedcba9876543210"
    aes = {1: aes_cbc_decryptor(lambda wire_key: (secret, iv))}
    ct = _aes_encrypt(secret, iv, b'{"ak": "x"}')
    tampered = ct[:-1] + bytes([ct[-1] ^ 0xFF])
    wire = json.dumps({
        "Ip": "1.2.3.4", "Now": 1, "Header": "{}",
        "Args": {"event": tampered.hex(), "compress": 0,
                 "encrypt": 1, "type": 1, "key": "k"},
    })
    out = resolve_wire(spark.createDataFrame([(wire,)], "raw string"),
                       decryptors=aes).collect()
    assert out[0].result == -1


def test_partial_upsert(spark, tmp_path):
    """Doris partial-column update semantics: matched rows take incoming
    values for the update columns ONLY (including explicit NULLs — the
    \\N overwrite), keep everything else; new keys insert with NULL
    non-updated columns."""
    from zg_etl_spark.sinks import partial_upsert_table

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10, 100), (2, "b", 20, 200)],
        "k int, name string, score int, extra int",
    )
    base.write.parquet(path)

    incoming = spark.createDataFrame(
        [(1, 11, None, 1), (1, 12, None, 2),   # two versions: seq 2 wins
         (3, 30, 300, 1)],                      # new key
        "k int, score int, extra int, seq int",
    )
    partial_upsert_table(
        spark, incoming, path, keys=["k"], order_col="seq",
        update_cols=["score", "extra"],
    )
    rows = {r.k: r for r in spark.read.parquet(path).collect()}
    assert rows[1].score == 12 and rows[1].extra is None  # NULL overwrites
    assert rows[1].name == "a"                            # untouched col kept
    assert rows[2].score == 20 and rows[2].name == "b"    # unmatched row intact
    assert rows[3].score == 30 and rows[3].name is None   # insert w/ NULL rest


def test_upsert_delete_sign(spark, tmp_path):
    """Doris delete-sign semantics (__DORIS_DELETE_SIGN__,
    EventAttrRow.java:51-53): a flagged row removes its UNIQUE KEY; the
    keep-latest ordering decides between delete / update / resurrect, and
    the sign column never lands in the table."""
    path = str(tmp_path / "t_del")
    t1 = spark.createDataFrame(
        [(1, "d1", 10, 100, 0), (1, "d2", 20, 100, 0), (1, "d3", 30, 100, 0)],
        "app_id INT, device_id STRING, zg_id INT, seq INT, ds INT",
    )
    upsert_table(spark, t1, path, keys=["app_id", "device_id"],
                 order_col="seq", delete_col="ds")
    t2 = spark.createDataFrame(
        [
            (1, "d1", 99, 200, 0),   # plain update
            (1, "d2", 0, 200, 1),    # delete an existing on-disk key
            (1, "d3", 0, 150, 1),    # delete …
            (1, "d3", 31, 160, 0),   # … but a NEWER re-insert resurrects it
            (1, "d4", 0, 200, 1),    # delete of a never-seen key: no-op
        ],
        "app_id INT, device_id STRING, zg_id INT, seq INT, ds INT",
    )
    upsert_table(spark, t2, path, keys=["app_id", "device_id"],
                 order_col="seq", delete_col="ds")
    got = spark.read.parquet(path)
    assert "ds" not in got.columns
    assert {r.device_id: r.zg_id for r in got.collect()} == {"d1": 99, "d3": 31}
    # a STALE delete (older seq than the stored row) must not remove the key
    t3 = spark.createDataFrame(
        [(1, "d1", 0, 50, 1)],
        "app_id INT, device_id STRING, zg_id INT, seq INT, ds INT",
    )
    upsert_table(spark, t3, path, keys=["app_id", "device_id"],
                 order_col="seq", delete_col="ds")
    assert {r.device_id: r.zg_id for r in spark.read.parquet(path).collect()} == {
        "d1": 99, "d3": 31,
    }


def test_upsert_delete_sign_empties_partition(spark, tmp_path):
    """Deleting every key of a partition must drop the partition's files:
    dynamic overwrite never rewrites a partition absent from the output,
    so without explicit cleanup the old rows would resurrect on read."""
    import os

    path = str(tmp_path / "t_del_part")
    t1 = spark.createDataFrame(
        [(1, "d1", 10, 100, 0), (2, "d9", 20, 100, 0)],
        "app_id INT, device_id STRING, zg_id INT, seq INT, ds INT",
    )
    upsert_table(spark, t1, path, keys=["app_id", "device_id"],
                 order_col="seq", partition_cols=["app_id"], delete_col="ds")
    t2 = spark.createDataFrame(
        [(1, "d1", 0, 200, 1)],
        "app_id INT, device_id STRING, zg_id INT, seq INT, ds INT",
    )
    upsert_table(spark, t2, path, keys=["app_id", "device_id"],
                 order_col="seq", partition_cols=["app_id"], delete_col="ds")
    assert not os.path.exists(os.path.join(path, "app_id=1"))
    got = spark.read.parquet(path).collect()
    assert {r.device_id for r in got} == {"d9"}


def test_partial_upsert_delete_sign(spark, tmp_path):
    from zg_etl_spark.sinks import partial_upsert_table

    path = str(tmp_path / "t_pdel")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k int, name string, score int",
    )
    base.write.parquet(path)
    incoming = spark.createDataFrame(
        [
            (1, 11, 1, 0),    # partial update
            (2, None, 1, 1),  # delete the whole row (not just the columns)
            (3, 31, 1, 1),
            (3, 33, 2, 0),    # newer update beats the older delete
        ],
        "k int, score int, seq int, ds int",
    )
    partial_upsert_table(
        spark, incoming, path, keys=["k"], order_col="seq",
        update_cols=["score"], delete_col="ds",
    )
    rows = {r.k: r for r in spark.read.parquet(path).collect()}
    assert set(rows) == {1, 3}
    assert rows[1].score == 11 and rows[1].name == "a"
    assert rows[3].score == 33 and rows[3].name == "c"
    assert "ds" not in spark.read.parquet(path).columns


@pytest.mark.slow  # ~1-2 min scale rehearsal: --runslow when sinks.py changes
def test_upsert_many_partitions_bounded(spark, tmp_path):
    """1k distinct partition tuples: the existing-side restriction must be
    the broadcast semi join, not a 1000-term OR-chain predicate — the
    10k-apps × 7-days deployment shape (planning stays O(tuples))."""
    import time

    from pyspark.sql import functions as F

    path = str(tmp_path / "t_many")
    n = 1000
    t1 = (
        spark.range(n)
        .select(
            F.col("id").alias("day"),
            F.concat(F.lit("d"), F.col("id")).alias("device_id"),
            F.lit(1).alias("v"),
            F.lit(100).alias("seq"),
        )
        .coalesce(8)
    )
    upsert_table(spark, t1, path, keys=["day", "device_id"],
                 order_col="seq", partition_cols=["day"])
    t2 = t1.withColumn("v", F.lit(2)).withColumn("seq", F.lit(200))
    start = time.monotonic()
    upsert_table(spark, t2, path, keys=["day", "device_id"],
                 order_col="seq", partition_cols=["day"])
    elapsed = time.monotonic() - start
    got = spark.read.parquet(path)
    assert got.count() == n and got.agg(F.min("v"), F.max("v")).first() == (2, 2)
    # generous wall bound: the point is "does not blow up in the planner"
    assert elapsed < 120, f"1k-partition upsert took {elapsed:.0f}s"


def test_drop_expired_partitions(spark, tmp_path):
    """Retention sweep drops only partitions strictly below the keep
    threshold, leaves surviving partition files untouched (same inodes),
    and never expires the NULL partition by value comparison."""
    import glob
    import os

    from zg_etl_spark.sinks import drop_expired_partitions

    path = str(tmp_path / "by_day")
    df = spark.createDataFrame(
        [(d, "x") for d in (100, 101, 102, 103)] + [(None, "n")],
        "day_id INT, v STRING",
    )
    write_partitioned(df, path, ["day_id"], dynamic=False)
    keep_files = sorted(glob.glob(os.path.join(path, "day_id=103", "*.parquet")))
    keep_mtimes = [os.path.getmtime(f) for f in keep_files]

    dropped = drop_expired_partitions(spark, path, "day_id", 102)
    assert sorted(dropped) == [100, 101]
    got = spark.read.parquet(path)
    assert sorted(
        (r.day_id for r in got.select("day_id").distinct().collect()),
        key=lambda x: (x is None, x),
    ) == [102, 103, None]
    # survivors kept their exact files
    assert sorted(glob.glob(os.path.join(path, "day_id=103", "*.parquet"))) == keep_files
    assert [os.path.getmtime(f) for f in keep_files] == keep_mtimes


def test_upsert_schema_evolution(spark, tmp_path):
    """A later batch may carry a NEW column: existing rows surface NULL
    for it, the keep-latest winner decides per key, and the table's
    schema grows — ALTER TABLE ADD COLUMN semantics without a rewrite of
    semantics (the \\N fill the reference's stream-load applies)."""
    path = str(tmp_path / "t_evo")
    t1 = spark.createDataFrame(
        [(1, "d1", 10, 100), (1, "d2", 20, 100)],
        "app_id INT, device_id STRING, zg_id INT, seq INT",
    )
    upsert_table(spark, t1, path, keys=["app_id", "device_id"], order_col="seq")
    t2 = spark.createDataFrame(
        [(1, "d2", 21, 200, "gold"), (1, "d3", 30, 200, "silver")],
        "app_id INT, device_id STRING, zg_id INT, seq INT, tier STRING",
    )
    upsert_table(spark, t2, path, keys=["app_id", "device_id"], order_col="seq")
    rows = {r.device_id: (r.zg_id, r.tier) for r in spark.read.parquet(path).collect()}
    assert rows == {"d1": (10, None), "d2": (21, "gold"), "d3": (30, "silver")}


def test_rsa_key_unwrapper_contract():
    """Real RSA/PKCS1v15 unwrap of the "key,iv" plaintext from a
    PKCS8-DER private key (DecodeService.java:20-33): round-trips a
    wrapped key, caches by wire key, raises on a comma-less plaintext
    (the reference's keys[1] index error) and on undecryptable input."""
    import pytest
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import padding as apad, rsa

    from zg_etl_spark.operators.decode import rsa_key_unwrapper

    priv = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    der_b64 = base64.b64encode(priv.private_bytes(
        serialization.Encoding.DER,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption(),
    )).decode()
    pub = priv.public_key()
    wrap = lambda pt: base64.b64encode(
        pub.encrypt(pt, apad.PKCS1v15())
    ).decode()

    resolve = rsa_key_unwrapper(der_b64)
    wk = wrap(b"0123456789abcdef,fedcba9876543210")
    assert resolve(wk) == ("0123456789abcdef", "fedcba9876543210")
    assert resolve(wk) == ("0123456789abcdef", "fedcba9876543210")  # cached
    # Java split(",") drops trailing empties: "key," has ONE part and the
    # reference's keys[1] throws — so must the unwrapper
    with pytest.raises(ValueError):
        resolve(wrap(b"0123456789abcdef,"))
    with pytest.raises(ValueError):
        resolve(wrap(b"noivpartatall"))
    with pytest.raises(ValueError):
        resolve(base64.b64encode(b"\x00" * 256).decode())


def test_reference_demo_vectors_decode(spark):
    """Decode the reference's OWN published demo ciphertexts
    (DecodeService.java:64-98 main(): the committed demo private key, the
    RSA-wrapped AES keys, and hex event blobs) through OUR resolve_wire —
    the strongest possible wire-parity evidence: if any convention
    (PKCS8-DER key load, RSA/PKCS1v15, "key,iv" split, hex transport,
    AES/CBC/PKCS5) diverged, these real vectors would not decode to real
    ZG payloads. Vectors are read from the reference tree at test time
    (public demo material, not secrets minted here); skipped when the
    tree is absent."""
    import os
    import re

    import pytest

    ref = ("/root/reference/etl-flink-pipeline/src/main/java/com/zhugeio/"
           "etl/pipeline/service/DecodeService.java")
    if not os.path.exists(ref):
        pytest.skip("reference tree not mounted")
    src = open(ref).read()
    priv = re.search(r'String privateKey = "([^"]+)"', src).group(1)
    keys = re.findall(r'String key = "([^"]+)"', src)
    datas = re.findall(r'String data = "([^"]+)"', src)
    # keys[1] is the Android-CBC wrapped key paired with datas[0];
    # keys[2] is the Android-ECB key (comma-LESS plaintext) with datas[1]
    assert len(keys) >= 3 and len(datas) >= 2

    from zg_etl_spark.operators.decode import (
        aes_cbc_decryptor,
        resolve_wire,
        rsa_key_unwrapper,
    )

    rsa_aes = {1: aes_cbc_decryptor(rsa_key_unwrapper(priv))}
    wire = json.dumps({
        "Ip": "1.2.3.4", "Now": 1642503583, "Header": "{}",
        "Args": json.dumps({"event": datas[0], "compress": 0,
                            "encrypt": 1, "type": 1, "key": keys[1]}),
    })
    out = resolve_wire(spark.createDataFrame([(wire,)], "raw STRING"),
                       decryptors=rsa_aes).collect()
    assert out[0].result == 0, out
    payload = json.loads(out[0].payload)
    assert payload["ak"] == "eaac64f2a7684c418bffa47809756a05"
    assert payload["data"][0]["dt"] == "pl"
    assert payload["data"][0]["pr"]["$cr"] == "310260"

    # the ECB lane's wrapped key is a comma-LESS plaintext: the deployed
    # getContent (keys[1]) throws on it — an error row, exactly as the
    # reference would fail; the demo decodes it only by passing iv=""
    # manually (DecodeService.java:92-95)
    wire_ecb = json.dumps({
        "Ip": "1.2.3.4", "Now": 1, "Header": "{}",
        "Args": json.dumps({"event": datas[1].rstrip("\\"), "compress": 0,
                            "encrypt": 1, "type": 1, "key": keys[2]}),
    })
    out2 = resolve_wire(spark.createDataFrame([(wire_ecb,)], "raw STRING"),
                        decryptors=rsa_aes).collect()
    assert out2[0].result == -1
    # with the demo's manual empty-iv convention the same blob round-trips
    # through our ECB branch
    from zg_etl_spark.operators.decode import rsa_key_unwrapper as _unused  # noqa: F401
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import padding as apad

    pk = serialization.load_der_private_key(base64.b64decode(priv), None)
    ecb_key = pk.decrypt(base64.b64decode(keys[2]), apad.PKCS1v15()).decode()
    dec = aes_cbc_decryptor(lambda wk: (ecb_key, ""))
    pt = json.loads(dec(bytes.fromhex(datas[1].rstrip("\\")), keys[2]))
    assert pt["ak"] == "d711e5906fff42cb9fda6005bf5bdcb5"


from hypothesis import HealthCheck, given, settings, strategies as st

_OP = st.tuples(
    st.integers(min_value=0, max_value=4),   # key index (small → collisions)
    st.integers(min_value=0, max_value=99),  # value
    st.booleans(),                           # delete sign
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(_OP, min_size=1, max_size=6), min_size=1, max_size=4))
def test_upsert_delete_property(spark, tmp_path_factory, batches):
    """Property: ANY sequence of upsert batches with delete signs lands
    exactly where a sequential per-key store lands — version order is the
    global seq (batch boundaries irrelevant), a winning delete removes
    the key, a later write resurrects it. Random small keyspace forces
    update/delete/resurrect collisions the fixed fixtures can't cover."""
    path = str(tmp_path_factory.mktemp("prop") / "t")
    store: dict = {}
    seq = 0
    for batch in batches:
        rows = []
        for key_i, val, ds in batch:
            seq += 1
            rows.append((f"k{key_i}", val, seq, ds))
        spark_batch = spark.createDataFrame(
            rows, "key STRING, val INT, seq INT, ds BOOLEAN"
        )
        upsert_table(spark, spark_batch, path, keys=["key"],
                     order_col="seq", delete_col="ds")
        # sequential replay of the same batch in seq order
        for key, val, s, ds in rows:
            if ds:
                store.pop(key, None)
            else:
                store[key] = val
    got = {r.key: r.val for r in spark.read.parquet(path).collect()}
    assert got == store


def test_partial_upsert_is_partition_scoped(spark, tmp_path):
    """A partial-update batch touching only app 1 must neither READ nor
    rewrite app 2's partition — the reference runs partial_columns mode
    on its b_device / b_user_property sinks (DorisSinkFactory.java:
    60,96,137), and at 100 TB the previous full-table merge was a
    table rewrite per micro-batch. Write side: app 2's files keep their
    names and mtimes. Read side: the existing-table scan carries a
    partition predicate (static pruning at the scan)."""
    import glob
    import os

    from zg_etl_spark.sinks import _restrict_to_touched, partial_upsert_table

    path = str(tmp_path / "b_device_p")
    seed = spark.createDataFrame(
        [(1, "d1", "m1", 10, 100), (2, "d9", "m9", 20, 100)],
        "app_id INT, device_id STRING, model STRING, score INT, seq INT",
    )
    partial_upsert_table(
        spark, seed, path, keys=["app_id", "device_id"], order_col="seq",
        update_cols=["model", "score"], partition_cols=["app_id"],
    )
    app2_files = sorted(glob.glob(os.path.join(path, "app_id=2", "*.parquet")))
    app2_mtimes = [os.path.getmtime(f) for f in app2_files]

    part = spark.createDataFrame(
        [(1, "d1", 99, 200), (1, "d3", 12, 201)],
        "app_id INT, device_id STRING, score INT, seq INT",
    )
    partial_upsert_table(
        spark, part, path, keys=["app_id", "device_id"], order_col="seq",
        update_cols=["score"], partition_cols=["app_id"],
    )
    rows = {r.device_id: r for r in spark.read.parquet(path).collect()}
    assert rows["d1"].score == 99 and rows["d1"].model == "m1"
    assert rows["d3"].score == 12 and rows["d3"].model is None
    assert rows["d9"].score == 20 and rows["d9"].model == "m9"
    # write side: app 2's partition kept its exact files
    assert sorted(glob.glob(os.path.join(path, "app_id=2", "*.parquet"))) == app2_files
    assert [os.path.getmtime(f) for f in app2_files] == app2_mtimes
    # read side: the same restriction the writer applies prunes at the
    # scan — PartitionFilters, not a post-scan Filter over both apps
    existing = spark.read.parquet(path)
    touched = part.select("app_id").distinct().collect()
    plan = _restrict_to_touched(spark, existing, ["app_id"], touched)._jdf \
        .queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "app_id" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]


def test_partial_upsert_delete_empties_partition(spark, tmp_path):
    """A delete-sign batch that removes a partition's last key must drop
    the stale partition directory (dynamic overwrite never rewrites a
    partition absent from the output)."""
    import os

    from zg_etl_spark.sinks import partial_upsert_table

    path = str(tmp_path / "b_device_del")
    seed = spark.createDataFrame(
        [(1, "d1", 10, 100), (2, "d9", 20, 100)],
        "app_id INT, device_id STRING, score INT, seq INT",
    )
    partial_upsert_table(
        spark, seed, path, keys=["app_id", "device_id"], order_col="seq",
        update_cols=["score"], partition_cols=["app_id"],
    )
    dels = spark.createDataFrame(
        [(2, "d9", None, 200, True)],
        "app_id INT, device_id STRING, score INT, seq INT, ds BOOLEAN",
    )
    partial_upsert_table(
        spark, dels, path, keys=["app_id", "device_id"], order_col="seq",
        update_cols=["score"], delete_col="ds", partition_cols=["app_id"],
    )
    got = {r.device_id: r.score for r in spark.read.parquet(path).collect()}
    assert got == {"d1": 10}
    assert not os.path.exists(os.path.join(path, "app_id=2"))


def test_sm3_known_answer_vectors():
    """Both GB/T 32905-2016 appendix vectors — a transcription error in
    the IV, T constants, permutations, or padding fails here."""
    from zg_etl_spark.functions.sm_crypto import sm3

    assert sm3(b"abc").hex() == (
        "66c7f0f462eeedd9d1f2d46bdc10e4e24167c4875cf2f7a2297da02b8f4ba8e0"
    )
    assert sm3(b"abcd" * 16).hex() == (
        "debe9ff92275b8a138604889c18e5a4d6fdb70e5387e5765293dcba39c0c5732"
    )


def test_sm2_curve_constants_self_verify():
    """The sm2p256v1 constants are machine-checked rather than trusted:
    G must satisfy the curve equation and n·G must be the point at
    infinity — both fail for any single-digit transcription error."""
    from zg_etl_spark.functions import sm_crypto as sm

    assert sm.on_curve(sm.G)
    assert sm.ec_mul(sm.N, sm.G) is None
    # d·G stays on the curve through the add/double chain
    d, pub = sm.sm2_keypair()
    assert sm.on_curve(pub)


def test_sm2_roundtrip_and_rejection_classes():
    """Encrypt/decrypt round-trip (C1C3C2, hex) plus every rejection
    class the lane must surface as an error row: tampered C2 (C3 MAC
    mismatch), off-curve C1, short ciphertext, non-hex input."""
    import pytest as _pytest

    from zg_etl_spark.functions.sm_crypto import (
        sm2_decrypt_hex, sm2_encrypt_hex, sm2_keypair,
    )

    d, pub = sm2_keypair()
    msg = b"0123456789abcdef0123456789abcdef,tag"
    ct = sm2_encrypt_hex(pub, msg)
    assert ct.startswith("04") and sm2_decrypt_hex(d, ct) == msg
    raw = bytearray(bytes.fromhex(ct))
    raw[-1] ^= 0xFF
    with _pytest.raises(ValueError):
        sm2_decrypt_hex(d, raw.hex())
    with _pytest.raises(ValueError):
        sm2_decrypt_hex(d, "04" + "11" * 96 + "22" * 16)  # not a point
    with _pytest.raises(ValueError):
        sm2_decrypt_hex(d, "04abcd")
    with _pytest.raises(ValueError):
        sm2_decrypt_hex(d, "zz" * 120)


def test_sm2_key_unwrapper_matches_reference_quirks(spark):
    """The unwrap lane end-to-end (MsgResolver.java:109-125): hex SM2
    ciphertext possibly WITHOUT the 04 prefix, plaintext split(',')[0]
    is the hex SM4 key; the unwrapped key must SM4-decrypt a blob
    encrypted with the true key."""
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )

    from zg_etl_spark.functions.sm_crypto import sm2_encrypt_hex, sm2_keypair
    from zg_etl_spark.operators.decode import (
        sm2_key_unwrapper, sm4_ecb_decryptor,
    )

    d, pub = sm2_keypair()
    sm4_key = bytes(range(16))
    resolve = sm2_key_unwrapper(format(d, "x"))
    # with prefix + comma tag
    w1 = sm2_encrypt_hex(pub, (sm4_key.hex() + ",extra").encode())
    assert resolve(w1) == sm4_key
    # WITHOUT the 04 prefix and without a tag (re-mint while the
    # stripped form would itself start "04" and parse as prefixed)
    w2 = sm2_encrypt_hex(pub, sm4_key.hex().encode())
    while w2[2:4] == "04":
        w2 = sm2_encrypt_hex(pub, sm4_key.hex().encode())
    assert resolve(w2[2:]) == sm4_key
    # end-to-end: the resolver feeds the SM4 decryptor
    payload = b"zg-sm2-lane-ok"
    pad = 16 - len(payload) % 16
    enc = Cipher(algorithms.SM4(sm4_key), modes.ECB()).encryptor()
    blob = enc.update(payload + bytes([pad]) * pad) + enc.finalize()
    dec = sm4_ecb_decryptor(resolve)
    assert dec(blob, w1) == payload


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(_OP, min_size=1, max_size=6), min_size=1, max_size=4))
def test_partial_upsert_property(spark, tmp_path_factory, batches):
    """Property: ANY sequence of PARTIAL upsert batches (update_cols =
    [val], an untouched ghost column, partition-scoped on a derived
    partition key) lands where a sequential per-key store lands — a
    matched key takes the incoming val and keeps its ghost, a new key
    inserts ghost NULL, a winning delete removes the whole row, a later
    partial write resurrects it with ghost NULL. Batch boundaries are
    irrelevant; within a batch the max-seq row per key decides."""
    from zg_etl_spark.sinks import partial_upsert_table

    path = str(tmp_path_factory.mktemp("pprop") / "t")
    # seed: keys k0..k2 exist with a ghost column the partials never carry
    seed = spark.createDataFrame(
        [(f"k{i}", i % 2, 0, f"g{i}", -1) for i in range(3)],
        "key STRING, part INT, val INT, ghost STRING, seq INT",
    )
    partial_upsert_table(
        spark, seed, path, keys=["key", "part"], order_col="seq",
        update_cols=["val", "ghost"], partition_cols=["part"],
    )
    store = {(f"k{i}", i % 2): {"val": 0, "ghost": f"g{i}"} for i in range(3)}
    seq = 0
    for batch in batches:
        rows = []
        for key_i, val, ds in batch:
            seq += 1
            rows.append((f"k{key_i}", key_i % 2, val, seq, ds))
        spark_batch = spark.createDataFrame(
            rows, "key STRING, part INT, val INT, seq INT, ds BOOLEAN"
        )
        partial_upsert_table(
            spark, spark_batch, path, keys=["key", "part"], order_col="seq",
            update_cols=["val"], delete_col="ds", partition_cols=["part"],
        )
        # sequential replay: last row per key in the batch decides
        decided = {}
        for key, part, val, s, ds in rows:
            decided[(key, part)] = (val, ds)
        for (key, part), (val, ds) in decided.items():
            if ds:
                store.pop((key, part), None)
            elif (key, part) in store:
                store[(key, part)]["val"] = val
            else:
                store[(key, part)] = {"val": val, "ghost": None}
    got = {
        (r.key, r.part): {"val": r.val, "ghost": r.ghost}
        for r in spark.read.parquet(path).collect()
    }
    assert got == store


def test_partial_upsert_null_key_updates_and_deletes(spark, tmp_path):
    """A NULL key/partition value must behave as ONE logical key through
    the partial merge: the update overwrites in place (no duplicate row
    in the null partition) and a delete sign removes it — plain ==
    would orphan it while _restrict_to_touched deliberately reads it."""
    from zg_etl_spark.sinks import partial_upsert_table

    path = str(tmp_path / "t_null")
    seed = spark.createDataFrame(
        [(None, "dA", "mA", 1, 100), (None, "dB", "mB", 2, 100),
         (7, "dC", "mC", 3, 100)],
        "app_id INT, device_id STRING, model STRING, score INT, seq INT",
    )
    partial_upsert_table(
        spark, seed, path, keys=["app_id", "device_id"], order_col="seq",
        update_cols=["model", "score"], partition_cols=["app_id"],
    )
    upd = spark.createDataFrame(
        [(None, "dA", 99, 200)],
        "app_id INT, device_id STRING, score INT, seq INT",
    )
    partial_upsert_table(
        spark, upd, path, keys=["app_id", "device_id"], order_col="seq",
        update_cols=["score"], partition_cols=["app_id"],
    )
    rows = spark.read.parquet(path).collect()
    got = {(r.app_id, r.device_id): (r.model, r.score) for r in rows}
    assert len(rows) == 3, rows  # dA updated IN PLACE, not duplicated
    assert got[(None, "dA")] == ("mA", 99)
    assert got[(None, "dB")] == ("mB", 2)
    assert got[(7, "dC")] == ("mC", 3)
    dels = spark.createDataFrame(
        [(None, "dA", None, 300, True)],
        "app_id INT, device_id STRING, score INT, seq INT, ds BOOLEAN",
    )
    partial_upsert_table(
        spark, dels, path, keys=["app_id", "device_id"], order_col="seq",
        update_cols=["score"], delete_col="ds", partition_cols=["app_id"],
    )
    got = {(r.app_id, r.device_id) for r in spark.read.parquet(path).collect()}
    assert got == {(None, "dB"), (7, "dC")}


def test_delete_everything_keeps_table_readable(spark, tmp_path):
    """A delete batch that removes EVERY key empties all partitions; the
    table must stay readable (zero rows, full schema) and a later upsert
    must repopulate it — not fail UNABLE_TO_INFER_SCHEMA on the husk.
    Pins both writers (found by hypothesis on partial_upsert_table; the
    full upsert had the identical latent bug)."""
    from zg_etl_spark.sinks import partial_upsert_table, upsert_table

    for flavor in ("full", "partial"):
        path = str(tmp_path / f"t_{flavor}")
        seed = spark.createDataFrame(
            [(1, "a", 10, 100), (2, "b", 20, 100)],
            "part INT, key STRING, val INT, seq INT",
        )
        dels = spark.createDataFrame(
            [(1, "a", None, 200, True), (2, "b", None, 200, True)],
            "part INT, key STRING, val INT, seq INT, ds BOOLEAN",
        )
        again = spark.createDataFrame(
            [(1, "c", 30, 300)], "part INT, key STRING, val INT, seq INT"
        )
        if flavor == "full":
            def write(df):
                upsert_table(spark, df, path, keys=["part", "key"],
                             order_col="seq", partition_cols=["part"],
                             delete_col="ds" if "ds" in df.columns else None)
        else:
            def write(df):
                partial_upsert_table(
                    spark, df, path, keys=["part", "key"], order_col="seq",
                    update_cols=["val"],
                    delete_col="ds" if "ds" in df.columns else None,
                    partition_cols=["part"])
        write(seed)
        write(dels)
        emptied = spark.read.parquet(path)   # must not raise
        assert emptied.count() == 0
        assert {"part", "key", "val"} <= set(emptied.columns)
        write(again)                          # placeholder must not shadow
        got = {(r.part, r.key): r.val for r in spark.read.parquet(path).collect()}
        assert got == {(1, "c"): 30}, (flavor, got)
