"""The vendored minimal protobuf runtime
(smartpipeline_spark/vendor/google/protobuf): the shim that lets the
Spark-4 transformWithStateInPandas state protocol run where protobuf
is not installed, and the one place that activates it
(``streaming._activate_protobuf_shim``).

The codec tests pin the wire-format primitives the JVM validates
implicitly in a real state-server round-trip. They always load the
repo's vendor copy, so no other protobuf on this interpreter's path can
stand in for the code under test. The end-to-end tests import the
package, and run a transformWithStateInPandas drain on a session the
engine did not build, in an interpreter that cannot import any protobuf.
"""

import importlib
import importlib.util
import json
import os
import subprocess
import sys
import sysconfig
import types

import pytest

from smartpipeline_spark.streaming import _activate_protobuf_shim

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VENDOR = os.path.join(REPO, "smartpipeline_spark", "vendor")
_PB2 = "pyspark.sql.streaming.proto.StateMessage_pb2"


def _google_modules() -> list:
    return [m for m in sys.modules if m in ("google", _PB2) or m.startswith("google.")]


@pytest.fixture()
def sm():
    """``StateMessage_pb2`` built on the vendored runtime. Any
    ``google`` modules already imported are set aside for the import and
    put back afterwards."""
    import pyspark.sql.streaming.proto as proto_pkg

    saved = {m: sys.modules.pop(m) for m in _google_modules()}
    saved_attr = proto_pkg.__dict__.get("StateMessage_pb2")
    sys.path.insert(0, VENDOR)
    importlib.invalidate_caches()
    try:
        import google.protobuf

        want = os.path.join(VENDOR, "google", "protobuf", "__init__.py")
        assert os.path.realpath(google.protobuf.__file__) == os.path.realpath(want)
        yield importlib.import_module(_PB2)
    finally:
        sys.path.remove(VENDOR)
        for m in _google_modules():
            del sys.modules[m]
        sys.modules.update(saved)
        if saved_attr is None:
            proto_pkg.__dict__.pop("StateMessage_pb2", None)
        else:
            proto_pkg.StateMessage_pb2 = saved_attr
        importlib.invalidate_caches()


def test_pb2_builds_and_exposes_enums(sm):
    assert sm.PRE_INIT == 0 and sm.CLOSED == 5
    for name in (
        "StateRequest",
        "StateResponse",
        "StateCallCommand",
        "ValueStateCall",
        "ListStateCall",
        "MapStateCall",
        "KeyAndValuePair",
        "TimerInfo",
    ):
        assert hasattr(sm, name), name


def test_request_wire_bytes_are_canonical_proto3(sm):
    """Hand-computed wire bytes for the exact message shape the
    pyspark client sends on getValueState: field numbers and nesting
    from the public StateMessage.proto schema."""
    cmd = sm.StateCallCommand()
    cmd.stateName = "n"
    call = sm.StatefulProcessorCall(getValueState=cmd)
    req = sm.StateRequest(statefulProcessorCall=call)
    # StateRequest.statefulProcessorCall = field 2 (LEN)
    #   StatefulProcessorCall.getValueState = field 2 (LEN)
    #     StateCallCommand.stateName = field 1 (LEN) "n"
    assert req.SerializeToString() == bytes.fromhex("120512030a016e")
    # proto3: unset scalar fields are absent from the wire
    assert sm.StateRequest().SerializeToString() == b""
    assert sm.StateRequest(version=0).SerializeToString() == b""
    assert sm.StateRequest(version=1).SerializeToString() == bytes.fromhex("0801")


def test_negative_int64_roundtrip(sm):
    m = sm.RegisterTimer(expiryTimestampMs=-1)
    data = m.SerializeToString()
    # -1 as 10-byte two's-complement varint on field 1
    assert data == bytes.fromhex("08ffffffffffffffffff01")
    back = sm.RegisterTimer()
    back.ParseFromString(data)
    assert back.expiryTimestampMs == -1
    big = sm.RegisterTimer(expiryTimestampMs=(1 << 62))
    back2 = sm.RegisterTimer()
    back2.ParseFromString(big.SerializeToString())
    assert back2.expiryTimestampMs == 1 << 62


def test_repeated_bytes_preserves_empty_elements_and_order(sm):
    m = sm.StateResponseWithListGet()
    m.ParseFromString(
        # statusCode=0 absent; value=[b'ab', b'', b'c']; requireNextFetch=true
        bytes.fromhex("1a026162" + "1a00" + "1a0163" + "2001")
    )
    assert list(m.value) == [b"ab", b"", b"c"]
    assert m.requireNextFetch is True
    assert m.statusCode == 0 and m.errorMessage == ""


def test_nested_repeated_message_parse(sm):
    kv = sm.KeyAndValuePair(key=b"k1", value=b"v1")
    kv2 = sm.KeyAndValuePair(key=b"k2")
    resp = sm.StateResponseWithMapIterator()
    payload = bytearray()
    for item in (kv, kv2):
        inner = item.SerializeToString()
        payload += bytes([0x1A, len(inner)]) + inner  # field 3 LEN
    resp.ParseFromString(bytes(payload))
    assert [(p.key, p.value) for p in resp.kvPair] == [
        (b"k1", b"v1"),
        (b"k2", b""),
    ]


def test_unknown_fields_are_skipped(sm):
    resp = sm.StateResponse()
    # field 99 varint, field 98 LEN, then errorMessage="x"
    resp.ParseFromString(
        bytes.fromhex("98067b" + "920403616263" + "120178")
    )
    assert resp.errorMessage == "x"


def test_submessage_autovivify_marks_presence(sm):
    """Scoped deviation from full protobuf semantics, relied on by the
    pyspark client (`cmd.ttl.durationMs = 5`): touching a submessage
    attribute creates and ATTACHES it."""
    cmd = sm.StateCallCommand()
    cmd.ttl.durationMs = 5
    data = cmd.SerializeToString()
    back = sm.StateCallCommand()
    back.ParseFromString(data)
    assert back.HasField("ttl") and back.ttl.durationMs == 5


def test_vendor_google_is_a_namespace_portion():
    """vendor/google must NOT be a regular package: a regular package
    on sys.path would claim the whole 'google' name and hide other
    namespace portions (google.auth, google.cloud, a real
    google.protobuf earlier on the path)."""
    assert not os.path.exists(os.path.join(VENDOR, "google", "__init__.py"))


def _stub_session(environment: dict):
    return types.SimpleNamespace(sparkContext=types.SimpleNamespace(environment=environment))


def test_real_protobuf_wins_when_installed(tmp_path, monkeypatch):
    """A protobuf the driver can import is left alone: the helper adds
    nothing to the workers' path."""
    real = tmp_path / "google" / "protobuf"
    real.mkdir(parents=True)
    (real / "__init__.py").write_text("")
    for m in _google_modules():
        monkeypatch.delitem(sys.modules, m)
    monkeypatch.syspath_prepend(str(tmp_path))
    spec = importlib.util.find_spec("google.protobuf")
    assert os.path.dirname(spec.origin) == str(real)
    session = _stub_session({"PYTHONPATH": "/x"})
    _activate_protobuf_shim(session)
    assert session.sparkContext.environment == {"PYTHONPATH": "/x"}


def test_shim_is_appended_once_after_the_workers_own_path(monkeypatch):
    monkeypatch.setattr(importlib.util, "find_spec", lambda name: None)
    session = _stub_session({"PYTHONPATH": "/x"})
    _activate_protobuf_shim(session)
    _activate_protobuf_shim(session)
    assert session.sparkContext.environment["PYTHONPATH"] == os.pathsep.join(["/x", VENDOR])
    bare = _stub_session({})
    _activate_protobuf_shim(bare)
    assert bare.sparkContext.environment == {"PYTHONPATH": VENDOR}


# what pyspark's pandas path imports; protobuf is deliberately absent
_NO_PROTOBUF_LIBS = (
    "pyspark", "py4j", "pyarrow", "pandas", "numpy", "numpy.libs",
    "dateutil", "pytz", "tzdata", "six.py",
)


@pytest.fixture(scope="module")
def protobufless_python(tmp_path_factory):
    """``(python, env)`` for an interpreter that cannot import any
    protobuf: a venv without pip whose path holds only links to the
    libraries pyspark's pandas path needs, plus this checkout. It is
    also the Python of every worker its Spark JVM starts."""
    base = tmp_path_factory.mktemp("no_protobuf")
    venv = base / "venv"
    subprocess.run([sys.executable, "-m", "venv", "--without-pip", str(venv)], check=True)
    libs = base / "libs"
    libs.mkdir()
    purelib = sysconfig.get_paths()["purelib"]
    for name in _NO_PROTOBUF_LIBS:
        if os.path.exists(os.path.join(purelib, name)):
            os.symlink(os.path.join(purelib, name), libs / name)
    python = str(venv / "bin" / "python")
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYTHONHOME")}
    env.update(
        PYTHONPATH=os.pathsep.join([str(libs), REPO]),
        PYSPARK_PYTHON=python,
        PYSPARK_DRIVER_PYTHON=python,
    )
    probe = subprocess.run(
        [python, "-c", "import google.protobuf"], capture_output=True, env=env
    )
    assert probe.returncode != 0, "the test interpreter must not see a protobuf"
    return python, env


def _tree(root: str) -> list:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, dirs, files in os.walk(root)
        for f in dirs + files
    )


def test_package_import_leaves_site_packages_alone(protobufless_python):
    python, env = protobufless_python
    site = subprocess.run(
        [python, "-c", "import sysconfig; print(sysconfig.get_paths()['purelib'])"],
        capture_output=True, text=True, env=env, check=True,
    ).stdout.strip()
    before = _tree(site)
    out = subprocess.run(
        [python, "-c", "import smartpipeline_spark, pyspark.sql"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert _tree(site) == before


_BARE_SESSION_TWS = """
import importlib.util, json, sys
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    .getOrCreate()
)
from smartpipeline_spark import streaming

try:
    assert importlib.util.find_spec("google.protobuf") is None
except ModuleNotFoundError:
    pass
work = sys.argv[1]
spark.range(200).selectExpr(
    "id AS event_id", "timestamp_seconds(id) AS ts", "id % 7 AS user_id",
    "'view' AS event_type", "CAST(id AS double) AS value", "'' AS props",
).repartition(4).write.parquet(work + "/events")
stream = streaming.stream_events_dir(spark, work + "/events", max_files_per_trigger=1)
rows = []
q = streaming.start_foreach_batch(
    streaming.stateful_user_counts_tws(stream),
    lambda df, bid: rows.extend((bid, r["user_id"], r["n_events"]) for r in df.collect()),
    checkpoint=work + "/ckpt",
    available_now=True,
    output_mode="update",
)
q.awaitTermination(240)
final = {}
for _, uid, n in rows:
    final[uid] = max(n, final.get(uid, 0))
want = {
    r["user_id"]: r["cnt"]
    for r in spark.read.parquet(work + "/events").groupBy("user_id").count()
    .withColumnRenamed("count", "cnt").collect()
}
print(json.dumps({"batches": len({b for b, _, _ in rows}), "ok": final == want and bool(want)}))
"""


def test_bare_session_tws_drain_without_protobuf(protobufless_python, tmp_path):
    """The round-8 case: the caller owns a bare SparkSession and no
    protobuf is installed. The TWS drain's per-key running count must
    end at the batch GROUP BY count."""
    python, env = protobufless_python
    out = subprocess.run(
        [python, "-c", _BARE_SESSION_TWS, str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["batches"] > 1, "state must span micro-batches"
    assert result["ok"], out.stdout[-2000:]
