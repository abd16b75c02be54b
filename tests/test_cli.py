"""CLI surface: arg parsing + remote run/cancel against a live executor
(reference CLI parity: aqueducts-cli/src/main.rs run/cancel)."""

import asyncio
import threading

import pytest

from aqueducts_spark.cli import _parse_hostport, _parse_params, main
from aqueducts_spark.executor.server import ExecutorServer

KEY = "cli-test-key"


def test_parse_params():
    assert _parse_params(["a=1", "b=x=y"]) == {"a": "1", "b": "x=y"}
    with pytest.raises(SystemExit):
        _parse_params(["novalue"])


def test_parse_hostport():
    assert _parse_hostport("localhost:8765") == ("localhost", 8765)
    with pytest.raises(SystemExit):
        _parse_hostport("nocolon")


@pytest.fixture()
def server(spark):
    holder = {}
    started = threading.Event()

    def run():
        loop = asyncio.new_event_loop()
        asyncio.set_event_loop(loop)
        srv = ExecutorServer(spark, api_key=KEY)
        holder["loop"] = loop
        holder["srv"] = srv
        loop.run_until_complete(srv.start())
        holder["port"] = srv.port
        started.set()
        loop.run_forever()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    assert started.wait(10)
    yield holder
    loop = holder["loop"]
    # wait for stop() to finish before killing the loop — otherwise the
    # pending coroutine is destroyed mid-await ("Task was destroyed but
    # it is pending" / "coroutine never awaited" RuntimeWarnings)
    asyncio.run_coroutine_threadsafe(holder["srv"].stop(), loop).result(timeout=15)
    loop.call_soon_threadsafe(loop.stop)


def test_cli_remote_run(server, tmp_path, capsys):
    yml = tmp_path / "p.yml"
    yml.write_text(
        """
sources:
  - type: file
    name: cli_nation
    format: {type: parquet}
    location: /root/testdata/sf0.001/nation.parquet
stages:
  - name: cli_counts
    query: SELECT n_regionkey, count(*) AS n FROM cli_nation GROUP BY n_regionkey
    show: ${n}
"""
    )
    rc = main(
        [
            "run",
            "-f",
            str(yml),
            "-p",
            "n=2",
            "--executor",
            f"127.0.0.1:{server['port']}",
            "--api-key",
            KEY,
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "cli_counts" in out and "n_regionkey" in out


def test_cli_cancel_unknown_id_fails_loudly(server, capsys):
    """A typo'd execution id must NOT report success — the pipeline it
    failed to cancel would keep running while the user believes it is
    dead (cli.py::_cmd_cancel reads the server's error reply)."""
    rc = main(
        ["cancel", "--executor", f"127.0.0.1:{server['port']}", "--id", "nope",
         "--api-key", KEY]
    )
    assert rc == 1
    captured = capsys.readouterr()
    assert "cancel failed" in captured.err
    assert "cancel requested" not in captured.out


def test_cli_cancel_of_queued_execution_succeeds(server, capsys):
    """Positive twin: cancelling a REAL queued execution via the CLI
    (fresh connection, capability-style id) returns 0 and the server
    reports the execution cancelled to its owning connection."""
    import queue as queue_mod

    from aqueducts_spark.executor.protocol import decode, encode

    pipeline = """
sources:
  - type: file
    name: cq_nation
    format: {type: parquet}
    location: /root/testdata/sf0.001/nation.parquet
stages:
  - name: cq_counts
    query: SELECT count(*) AS n FROM cq_nation
    show: 1
"""
    # the first submission is deliberately heavy (25^6-row cross-join
    # count, a several-second window even on a warm host) so the second
    # stays QUEUED until the cross-connection CLI cancel lands — the
    # queued ids arrive immediately at submit time, well before the
    # first execution can finish
    slow_pipeline = pipeline.replace(
        "SELECT count(*) AS n FROM cq_nation",
        "SELECT count(*) AS n FROM cq_nation a, cq_nation b, cq_nation c, "
        "cq_nation d, cq_nation e, cq_nation f",
    )
    queued_id: queue_mod.Queue = queue_mod.Queue()
    outcome = {}

    def drive():
        async def scenario():
            reader, writer = await asyncio.open_connection(
                "127.0.0.1", server["port"]
            )
            # two quick submissions: the second sits queued behind the
            # first, long enough for a cross-connection CLI cancel
            writer.write(
                encode({"type": "execution_request", "pipeline": slow_pipeline, "api_key": KEY})
            )
            writer.write(encode({"type": "execution_request", "pipeline": pipeline, "api_key": KEY}))
            await writer.drain()
            ids, cancelled, finished = [], [], []
            try:
                while len(cancelled) + len(finished) < 2:
                    msg = decode(await asyncio.wait_for(reader.readline(), 120))
                    if msg["type"] == "queued":
                        ids.append(msg["execution_id"])
                        if len(ids) == 2:
                            queued_id.put(ids[1])
                    elif msg["type"] == "cancelled":
                        cancelled.append(msg["execution_id"])
                    elif msg["type"] in ("succeeded", "error"):
                        finished.append(msg["execution_id"])
            finally:
                writer.close()
            outcome["ids"] = ids
            outcome["cancelled"] = cancelled

        asyncio.run(scenario())

    t = threading.Thread(target=drive, daemon=True)
    t.start()
    target = queued_id.get(timeout=60)
    rc = main(
        ["cancel", "--executor", f"127.0.0.1:{server['port']}", "--id", target,
         "--api-key", KEY]
    )
    t.join(timeout=120)
    assert not t.is_alive()
    assert rc == 0
    assert f"cancel requested for {target}" in capsys.readouterr().out
    assert outcome["cancelled"] == [target]


def test_cli_optimize_compacts_and_vacuums(spark, tmp_path, monkeypatch, capsys):
    from aqueducts_spark.delta.protocol import DeltaProtocolTable
    from aqueducts_spark.types import Field
    from aqueducts_spark import cli

    loc = str(tmp_path / "tbl_cli_opt")
    t = DeltaProtocolTable(spark, loc)
    t.create_if_absent([Field(name="id", data_type="long")], [], {}, {})
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], ["id"]).coalesce(1))

    # reuse the test session instead of letting the CLI spin up (and
    # stop) its own
    monkeypatch.setattr("aqueducts_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(["optimize", loc, "--target-partitions", "1", "--vacuum-keep", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "vacuumed 3 data file(s)" in out  # the three appended files
    assert len(t.read().inputFiles()) == 1
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2]
    assert t.history()[-1]["operation"] == "OPTIMIZE"


def test_cli_explain(spark, tmp_path, capsys, monkeypatch):
    yml = tmp_path / "p.yml"
    yml.write_text(
        """
sources:
  - type: file
    name: exp_orders
    format: {type: parquet}
    location: /root/testdata/sf0.001/orders.parquet
stages:
  - name: exp_summary
    query: >
      SELECT o_orderstatus, COUNT(*) AS n FROM exp_orders
      GROUP BY o_orderstatus
"""
    )
    monkeypatch.setattr("aqueducts_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = main(["explain", "--file", str(yml)])
    out = capsys.readouterr().out
    assert rc == 0
    assert "=== stage: exp_summary ===" in out
    assert "HashAggregate" in out
    # zero execution: formatted plan only, nothing collected
    spark.catalog.dropTempView("exp_summary")
    spark.catalog.dropTempView("exp_orders")


def test_cli_explain_strict_flags_cartesian(spark, tmp_path, capsys, monkeypatch):
    yml = tmp_path / "p.yml"
    yml.write_text(
        """
sources:
  - type: file
    name: exp_nation
    format: {type: parquet}
    location: /root/testdata/sf0.001/nation.parquet
stages:
  - name: exp_cross
    query: >
      SELECT a.n_name FROM exp_nation a CROSS JOIN exp_nation b
"""
    )
    monkeypatch.setattr("aqueducts_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = main(["explain", "--file", str(yml), "--strict"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "WARN:" in out
    spark.catalog.dropTempView("exp_cross")
    spark.catalog.dropTempView("exp_nation")


def test_cli_profile(spark, capsys, monkeypatch):
    monkeypatch.setattr("aqueducts_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = main(
        [
            "profile",
            "/root/testdata/sf0.001/nation.parquet",
            "--columns",
            "n_nationkey,n_name",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    lines = [l for l in out.splitlines() if l.strip()]
    assert lines[0].split()[:3] == ["column", "dtype", "n_rows"]
    assert any(l.startswith("n_nationkey") and " 25 " in l for l in lines)


def test_cli_history_prints_protocol_commits(spark, tmp_path, capsys, monkeypatch):
    from aqueducts_spark.delta.protocol import DeltaProtocolTable
    from aqueducts_spark.types import Field
    from aqueducts_spark import cli

    loc = str(tmp_path / "tbl_cli_hist")
    t = DeltaProtocolTable(spark, loc)
    t.create_if_absent([Field(name="id", data_type="long")], [], {}, {})
    t.append(spark.createDataFrame([(1,)], ["id"]))
    t.upsert(spark.createDataFrame([(2,)], ["id"]), keys=["id"])

    monkeypatch.setattr("aqueducts_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(["history", loc])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [l for l in out.splitlines() if l.strip()]
    assert len(lines) == 3
    assert "CREATE TABLE" in lines[0]
    assert "WRITE" in lines[1]
    assert "MERGE" in lines[2]


def test_cli_history_missing_table(spark, tmp_path, capsys, monkeypatch):
    from aqueducts_spark import cli

    monkeypatch.setattr("aqueducts_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(["history", str(tmp_path / "nope")])
    assert rc == 1
    assert "no commits" in capsys.readouterr().out


def test_cli_remote_run_requires_api_key(server, tmp_path, capsys, monkeypatch):
    monkeypatch.delenv("AQUEDUCTS_API_KEY", raising=False)
    yml = tmp_path / "k.yml"
    yml.write_text("sources: []\nstages: []\n")
    rc = main(
        ["run", "-f", str(yml), "--executor", f"127.0.0.1:{server['port']}"]
    )
    assert rc == 1
    assert "api-key" in capsys.readouterr().err.lower()


def test_cli_serve_refuses_empty_key(capsys, monkeypatch):
    monkeypatch.delenv("AQUEDUCTS_API_KEY", raising=False)
    rc = main(["serve", "--port", "0"])
    assert rc == 1
    assert "refuses to start" in capsys.readouterr().err


def test_cli_api_key_env_fallback(server, tmp_path, capsys, monkeypatch):
    monkeypatch.setenv("AQUEDUCTS_API_KEY", KEY)
    yml = tmp_path / "e.yml"
    yml.write_text(
        """
sources:
  - type: file
    name: env_nation
    format: {type: parquet}
    location: /root/testdata/sf0.001/nation.parquet
stages:
  - name: env_counts
    query: SELECT count(*) AS n FROM env_nation
    show: 1
"""
    )
    rc = main(
        ["run", "-f", str(yml), "--executor", f"127.0.0.1:{server['port']}"]
    )
    assert rc == 0
    assert "env_counts" in capsys.readouterr().out


def test_cli_health(server, capsys):
    rc = main(["health", "--executor", f"127.0.0.1:{server['port']}"])
    assert rc == 0
    assert "OK" in capsys.readouterr().out


def test_cli_health_unreachable(capsys):
    rc = main(["health", "--executor", "127.0.0.1:1"])
    assert rc == 1
    assert "unhealthy" in capsys.readouterr().err


def test_cli_run_output_format_json(spark, tmp_path, capsys, monkeypatch):
    """--output-format json streams one structured JSON object per line
    (r8, reference parity: the executor protocol's structured progress,
    aqueducts-cli/src/main.rs renders the same shapes)."""
    import json as _json

    yml = tmp_path / "p.yml"
    yml.write_text(
        """
sources:
  - type: file
    name: oj_docs
    format: {type: parquet}
    location: /root/testdata/sf0.001/documents.parquet
stages:
  - name: oj_en
    query: SELECT doc_id, lang FROM oj_docs WHERE lang = 'en' LIMIT 3
    show: 2
destination:
  type: in_memory
  name: oj_out
"""
    )
    monkeypatch.setattr("aqueducts_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = main(["run", "--file", str(yml), "--output-format", "json"])
    assert rc == 0
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    kinds = [e["event"] for e in lines]
    assert kinds[0] == "started" and kinds[-1] == "completed"
    assert "stage_completed" in kinds and "destination_completed" in kinds
    shows = [e for e in lines if e["event"] == "output"]
    assert shows and shows[0]["stage"] == "oj_en"
    assert "doc_id" in shows[0]["payload"]
    for v in ("oj_docs", "oj_en", "oj_out"):
        spark.catalog.dropTempView(v)
