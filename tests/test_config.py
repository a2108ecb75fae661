"""Config-file loader parity: the reference's conf format (key to the
first space, value = rest of line, '#' comments), default table, and
accessor semantics — plus the serve-from-config wire startup path."""

from __future__ import annotations

import ast
import os
import re

from raft_c_spark.config import DEFAULTS, Config, NodeType, load

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "raft_c_spark")

REFERENCE_STYLE = """\
# Cluster config
id                  3
type                shard
host                127.0.0.1:27778
shard_leaders       127.0.0.1:7778 127.0.0.1:7878 127.0.0.1:7978

# Raft replicas, refer to the ID node
raft_replicas       127.0.0.1:8778 127.0.0.1:8779 127.0.0.1:7778
raft_heartbeat_ms   150
"""


def test_defaults_match_reference_table():
    cfg = load(None)
    for key, value in DEFAULTS.items():
        assert cfg.get(key) == value
    assert cfg.get_enum("type") == NodeType.STANDALONE
    assert cfg.host_port() == ("127.0.0.1", 18777)


def test_parse_reference_conf(tmp_path):
    p = tmp_path / "node.conf"
    p.write_text(REFERENCE_STYLE)
    cfg = load(str(p))
    assert cfg.get_int("id") == 3
    assert cfg.get_enum("type") == NodeType.SHARD
    assert cfg.host_port() == ("127.0.0.1", 27778)
    assert cfg.get_list("shard_leaders") == [
        "127.0.0.1:7778", "127.0.0.1:7878", "127.0.0.1:7978",
    ]
    assert cfg.get_list("raft_replicas") == [
        "127.0.0.1:8778", "127.0.0.1:8779", "127.0.0.1:7778",
    ]
    assert cfg.get_int("raft_heartbeat_ms") == 150


def test_accessor_edge_semantics(tmp_path):
    cfg = Config()
    assert cfg.get("nope") is None
    assert cfg.get_int("nope") == -1  # config_get_int's missing-key -1
    assert cfg.get_list("nope") == []
    assert cfg.get_enum("nope") is None
    cfg.set("type", "gibberish")
    assert cfg.get_enum("type") is None  # config_get_enum's -1
    p = tmp_path / "bad.conf"
    p.write_text("keyonly\n# comment\n\nok value\n")
    cfg.load(str(p))
    assert cfg.get("keyonly") is None  # empty value = error line, skipped
    assert cfg.get("ok") == "value"


def test_serve_from_config_binds_configured_host(spark, tmp_path):
    from raft_c_spark.engine import Engine
    from raft_c_spark.wire import WireClient, serve_from_config

    p = tmp_path / "node.conf"
    # port 0 → OS-assigned; proves the host key drives the bind
    p.write_text("host 127.0.0.1:0\ntype standalone\n")
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    server = serve_from_config(eng, str(p))
    try:
        host, port = server.server_address[:2]
        assert host == "127.0.0.1" and port > 0
        client = WireClient(host, port)
        resp = client.execute("CREATEDB cfg_db")
        assert resp is not None
        client.close()
    finally:
        server.shutdown()


#: the package's only environment knob; an A/B switch does not belong here
_ALLOWED_ENV = {"RAFT_C_SPARK_CACHE_DIR"}
_ENV_NAME = re.compile(r"RAFT_C_SPARK_\w*")


def test_no_env_switch_outside_allowlist():
    """Every ``RAFT_C_SPARK_*`` name the package code spells out (the
    string literal handed to an ``os.environ`` read, or built into
    one) is on ``_ALLOWED_ENV``. Docstrings may mention other names;
    code may not."""
    found = {}
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            f = os.path.join(root, name)
            with open(f, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), f)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and _ENV_NAME.fullmatch(node.value)
                ):
                    rel = os.path.relpath(f, PKG)
                    found.setdefault(node.value, []).append(f"{rel}:{node.lineno}")
    assert "RAFT_C_SPARK_CACHE_DIR" in found  # the scan sees a known read
    assert {k: v for k, v in found.items() if k not in _ALLOWED_ENV} == {}


_ROUND_TAG = re.compile(r"round\d|_r\d")


def test_no_test_module_named_for_a_round():
    """Tests live in the file of the operator family (or subsystem)
    they check, never in a file named for the round that added them."""
    tests = os.path.dirname(os.path.abspath(__file__))
    tagged = sorted(
        name
        for name in os.listdir(tests)
        if name.startswith("test_") and name.endswith(".py") and _ROUND_TAG.search(name[:-3])
    )
    assert tagged == []


def _py_files(*paths):
    for path in paths:
        if path.endswith(".py"):
            yield path
            continue
        for root, _dirs, files in os.walk(path):
            yield from (os.path.join(root, n) for n in files if n.endswith(".py"))


def test_no_unselected_bool_operator_flag():
    """A ``bool`` keyword of a public operator selects a second code
    path, so some query, the engine or a script must pass its
    non-default value; a flag that only tests flip keeps a branch
    alive that no workload runs."""
    repo = os.path.dirname(PKG)
    flags = {}
    for f in _py_files(os.path.join(PKG, "operators")):
        with open(f, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), f)
        for node in tree.body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            a = node.args
            pairs = list(zip(a.args[len(a.args) - len(a.defaults):], a.defaults))
            pairs += list(zip(a.kwonlyargs, a.kw_defaults))
            for arg, default in pairs:
                if isinstance(default, ast.Constant) and isinstance(default.value, bool):
                    flags.setdefault((arg.arg, not default.value), []).append(
                        f"{os.path.basename(f)}:{node.name}"
                    )
    passed = set()
    callers = (
        os.path.join(PKG, "plans"),
        os.path.join(PKG, "engine.py"),
        os.path.join(repo, "scripts"),
    )
    for f in _py_files(*callers):
        with open(f, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), f)
        for node in ast.walk(tree):
            if isinstance(node, ast.keyword) and isinstance(node.value, ast.Constant):
                passed.add((node.arg, node.value.value))
    assert flags, "the scan found no bool operator keyword"
    assert {k: v for k, v in flags.items() if k not in passed} == {}
