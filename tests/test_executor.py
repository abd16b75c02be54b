"""Remote executor: queueing, progress streaming, chunked output,
cancellation semantics (reference executor/manager.rs + queue.rs)."""

import asyncio
import threading

import pytest

from aqueducts_spark.executor.protocol import chunk_output, decode, encode
from aqueducts_spark.executor.server import ExecutorServer
from aqueducts_spark.executor.client import check_health, submit_pipeline

KEY = "test-key"

PIPELINE = """
sources:
  - type: file
    name: exec_nation
    format: {type: parquet}
    location: /root/testdata/sf0.001/nation.parquet
stages:
  - name: exec_counts
    query: SELECT n_regionkey, count(*) AS n FROM exec_nation GROUP BY n_regionkey
    show: ${n}
"""


@pytest.fixture()
def server(spark):
    """Run the asyncio server in a daemon thread with its own loop."""
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
    # stop() now awaits the worker task — wait for it to finish before
    # killing the loop, or the pending coroutine is destroyed mid-await
    asyncio.run_coroutine_threadsafe(holder["srv"].stop(), loop).result(timeout=15)
    loop.call_soon_threadsafe(loop.stop)


def test_submit_and_stream(server):
    events = []
    final = submit_pipeline(
        "127.0.0.1",
        server["port"],
        PIPELINE,
        params={"n": "2"},
        on_message=events.append,
        api_key=KEY,
    )
    assert final["type"] == "succeeded"
    kinds = [e["type"] for e in events]
    assert kinds[0] == "queued"
    assert "started" in kinds
    assert "progress_update" in kinds
    # chunked show output was re-assembled
    assert "exec_counts" in final["outputs"]
    assert "n_regionkey" in final["outputs"]["exec_counts"]
    progress = [e["event"] for e in events if e["type"] == "progress_update"]
    assert progress[0] == "started" and progress[-1] == "completed"


def test_client_side_templating_missing_param(server):
    from aqueducts_spark.config.templating import MissingParamsError

    with pytest.raises(MissingParamsError):
        submit_pipeline("127.0.0.1", server["port"], PIPELINE, params={}, api_key=KEY)


def test_error_reported_for_bad_pipeline(server):
    final = submit_pipeline(
        "127.0.0.1",
        server["port"],
        api_key=KEY,
        pipeline_text="sources: []\nstages:\n  - name: bad\n    query: SELECT * FROM nope_missing\n",
    )
    assert final["type"] == "error"
    assert "bad" in final["message"] or "nope_missing" in final["message"]


def test_queue_positions_and_cancel_of_queued(server, spark):
    """A queued (not yet running) execution can be cancelled."""

    async def scenario():
        reader, writer = await asyncio.open_connection("127.0.0.1", server["port"])
        # submit two quickly; the second starts queued
        slow = PIPELINE.replace("${n}", "1")
        writer.write(encode({"type": "execution_request", "pipeline": slow, "api_key": KEY}))
        writer.write(encode({"type": "execution_request", "pipeline": slow, "api_key": KEY}))
        await writer.drain()
        ids, cancelled, succeeded = [], [], []
        try:
            while len(succeeded) + len(cancelled) < 2:
                line = await asyncio.wait_for(reader.readline(), 120)
                msg = decode(line)
                if msg["type"] == "queued":
                    ids.append(msg["execution_id"])
                    if len(ids) == 2:
                        writer.write(
                            encode(
                                {"type": "cancel_request", "execution_id": ids[1], "api_key": KEY}
                            )
                        )
                        await writer.drain()
                elif msg["type"] == "cancelled":
                    cancelled.append(msg["execution_id"])
                elif msg["type"] == "succeeded":
                    succeeded.append(msg["execution_id"])
        finally:
            writer.close()
        return ids, cancelled, succeeded

    ids, cancelled, succeeded = asyncio.run(scenario())
    assert len(ids) == 2
    assert cancelled == [ids[1]]
    assert succeeded == [ids[0]]


def test_chunking_roundtrip():
    payload = "x" * 70_000
    msgs = list(chunk_output("s", "show", payload))
    assert [m["type"] for m in msgs] == [
        "output_start", "output_chunk", "output_chunk", "output_chunk", "output_end",
    ]
    assert "".join(m["data"] for m in msgs if m["type"] == "output_chunk") == payload
    assert max(len(m.get("data", "")) for m in msgs) == 32_000


def test_large_pipeline_submission_exceeds_default_asyncio_limit(server, tmp_path):
    """A pipeline document larger than asyncio's default 64 KiB readline
    limit must round-trip (both sides raise the stream limit)."""
    port = server["port"]
    host = "127.0.0.1"
    filler = "".join(f"# pad {i} {'x' * 200}\n" for i in range(400))  # ~80 KB
    yml = filler + """
version: "v2"
sources:
  - type: in_memory
    name: big_src
stages:
  - - name: big_out
      query: SELECT COUNT(*) AS n FROM big_src
      show: 5
"""
    import pyspark.sql as _sql

    spark = _sql.SparkSession.getActiveSession()
    spark.createDataFrame([(1,), (2,)], ["v"]).createOrReplaceTempView("big_src")
    final = submit_pipeline(host, port, yml, fmt="yaml", timeout=120, api_key=KEY)
    assert final["type"] == "succeeded", final
    assert "big_out" in final["outputs"]


def test_param_value_containing_template_syntax(server):
    """The server must not re-substitute a client-templated pipeline: a
    param VALUE containing literal ${...} is data, not a template."""
    port = server["port"]
    host = "127.0.0.1"
    yml = """
version: "v2"
sources:
  - type: in_memory
    name: tpl_src
stages:
  - - name: tpl_out
      query: SELECT '${pattern}' AS pat, COUNT(*) AS n FROM tpl_src
      show: 5
"""
    import pyspark.sql as _sql

    spark = _sql.SparkSession.getActiveSession()
    spark.createDataFrame([(1,)], ["v"]).createOrReplaceTempView("tpl_src")
    final = submit_pipeline(
        host, port, yml, params={"pattern": "${not_a_param}"}, fmt="yaml",
        timeout=120, api_key=KEY,
    )
    # the regression: the server used to re-run template substitution on
    # the already-client-substituted text and fail the execution with
    # MissingParamsError for the injected ${not_a_param}.  (What the
    # query PRINTS for it is Spark's own SQL variable substitution — a
    # separate layer, not under test here.)
    assert final["type"] == "succeeded", final
    assert "|1  |" in final["outputs"]["tpl_out"]


class TestInactivityCancelDrain:
    """ADVICE r2: after an inactivity cancel the client must not report
    failure if the server's terminal message says the execution already
    succeeded (the destination write committed)."""

    def _fake_server(self, behavior):
        """Minimal line-protocol server; returns (port, thread, stop)."""
        holder = {}
        started = threading.Event()

        async def handle(reader, writer):
            line = await reader.readline()
            req = decode(line)
            assert req["type"] == "execution_request"
            writer.write(encode({"type": "queued", "execution_id": "e1", "position": 0}))
            await writer.drain()
            if behavior == "succeed_after_cancel":
                line = await reader.readline()  # wait for cancel_request
                req = decode(line)
                assert req["type"] == "cancel_request"
                # flush a buffered output chunk BEFORE the terminal —
                # the client's drain must not drop it
                writer.write(
                    encode({"type": "output_chunk", "execution_id": "e1",
                            "stage": "late_stage", "output_type": "show",
                            "data": "late-data"})
                )
                writer.write(
                    encode({"type": "succeeded", "execution_id": "e1",
                            "note": "completed before cancellation took effect"})
                )
                await writer.drain()
            elif behavior == "silent":
                await asyncio.sleep(30)
            writer.close()

        def run():
            loop = asyncio.new_event_loop()
            asyncio.set_event_loop(loop)

            async def start():
                srv = await asyncio.start_server(handle, "127.0.0.1", 0)
                holder["port"] = srv.sockets[0].getsockname()[1]
                holder["loop"] = loop
                started.set()

            loop.run_until_complete(start())
            loop.run_forever()

        t = threading.Thread(target=run, daemon=True)
        t.start()
        assert started.wait(5)
        return holder

    def test_succeeded_after_cancel_is_reported_as_success(self):
        holder = self._fake_server("succeed_after_cancel")
        result = submit_pipeline(
            "127.0.0.1", holder["port"], "sources: []\nstages: []\n",
            timeout=1.0,
        )
        assert result["type"] == "succeeded"
        assert result.get("after_inactivity_cancel") is True
        assert result["outputs"].get("late_stage") == "late-data"
        holder["loop"].call_soon_threadsafe(holder["loop"].stop)

    def test_silent_server_error_warns_write_may_have_committed(self):
        holder = self._fake_server("silent")
        result = submit_pipeline(
            "127.0.0.1", holder["port"], "sources: []\nstages: []\n",
            timeout=1.0,
        )
        assert result["type"] == "error"
        assert "may still have committed" in result["message"]
        holder["loop"].call_soon_threadsafe(holder["loop"].stop)


class TestApiKeyAuth:
    """Executor auth parity (reference aqueducts-executor/src/api/
    auth.rs:14-33 middleware, config.rs:29-31 empty-key refusal,
    api/mod.rs:27 public health route)."""

    def test_empty_api_key_refused_at_construction(self, spark):
        with pytest.raises(ValueError, match="api_key cannot be empty"):
            ExecutorServer(spark, api_key="")
        with pytest.raises(ValueError, match="api_key cannot be empty"):
            ExecutorServer(spark, api_key="   ")

    def test_missing_key_rejected_and_connection_closed(self, server):
        async def go():
            reader, writer = await asyncio.open_connection(
                "127.0.0.1", server["port"]
            )
            writer.write(
                encode({"type": "execution_request", "pipeline": "x"})
            )
            await writer.drain()
            line = await asyncio.wait_for(reader.readline(), 10)
            msg = decode(line)
            # and the server closes the connection after the rejection
            eof = await asyncio.wait_for(reader.readline(), 10)
            writer.close()
            return msg, eof

        msg, eof = asyncio.run(go())
        assert msg == {"type": "error", "message": "authentication failed"}
        assert eof == b""

    def test_wrong_key_rejected(self, server):
        final = submit_pipeline(
            "127.0.0.1",
            server["port"],
            PIPELINE,
            params={"n": "1"},
            api_key="wrong-key",
        )
        assert final["type"] == "error"
        assert "authentication failed" in final["message"]

    def test_wrong_key_cancel_rejected(self, server):
        from aqueducts_spark.executor.client import cancel_execution

        reply = cancel_execution(
            "127.0.0.1", server["port"], "deadbeef", api_key="nope"
        )
        assert reply["type"] == "error"
        assert "authentication failed" in reply["message"]

    def test_health_is_public(self, server):
        reply = check_health("127.0.0.1", server["port"])
        assert reply == {"type": "health", "status": "OK"}

    def test_right_key_still_works(self, server):
        final = submit_pipeline(
            "127.0.0.1",
            server["port"],
            PIPELINE,
            params={"n": "1"},
            api_key=KEY,
        )
        assert final["type"] == "succeeded"


def test_streaming_pipeline_over_executor(server, tmp_path):
    """A declarative STREAMING pipeline submitted remotely: the
    executor's run_pipeline drains the available_now trigger and
    reports success — the scheduled-incremental recipe works over the
    remote protocol unchanged."""
    import shutil

    incoming = tmp_path / "exec_incoming"
    incoming.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", incoming / "b1.parquet"
    )
    yml = f"""
sources:
  - type: file
    name: exs_docs
    streaming: true
    format:
      type: parquet
      options:
        schema:
          - {{name: doc_id, data_type: int64}}
          - {{name: lang, data_type: string}}
          - {{name: text, data_type: string}}
          - {{name: source, data_type: string}}
          - {{name: n_chars, data_type: int64}}
    location: {incoming}
stages:
  - - name: exs_kept
      query: SELECT doc_id, lang FROM exs_docs WHERE lang = 'en'
streaming: {{trigger: available_now, timeout_sec: 300}}
destination:
  type: file
  name: exs_out
  format: {{type: parquet}}
  single_file: false
  location: {tmp_path}/exs_out
"""
    final = submit_pipeline(
        "127.0.0.1", server["port"], yml, timeout=300, api_key=KEY
    )
    assert final["type"] == "succeeded", final
    import pyspark.sql as _sql

    spark = _sql.SparkSession.getActiveSession()
    assert spark.read.parquet(f"{tmp_path}/exs_out").count() > 0
    for v in ("exs_docs", "exs_kept"):
        try:
            spark.catalog.dropTempView(v)
        except Exception:
            pass


def test_back_to_back_runs_leave_no_caches(server, spark, sf_dir, tmp_path):
    """Runs in the executor's long-lived session release every cache
    they make, including a TTL-dropped stage's and an eager stage's:
    the parquet write is their last reader."""
    from test_pipeline_e2e import _cache_entries, _ttl_pipeline

    yml = _ttl_pipeline(
        sf_dir,
        "exc_",
        "destination: {type: file, name: exc_out, format: {type: parquet}, location: ${out}}",
    )
    before = _cache_entries(spark)
    for i in range(3):
        out = tmp_path / f"exc_out{i}"
        final = submit_pipeline(
            "127.0.0.1", server["port"], yml, params={"out": str(out)}, api_key=KEY
        )
        assert final["type"] == "succeeded", final
        assert spark.read.parquet(str(out)).count() == 5
        assert _cache_entries(spark) == before
    for v in ("nat", "eager", "a", "b", "final"):
        spark.catalog.dropTempView("exc_" + v)
