"""An in-process ``ExecutorServer`` on a loopback port, served from a
background thread with its own event loop."""

from __future__ import annotations

import asyncio
import secrets
import threading


class ExecutorHost:
    def __init__(self, spark):
        from aqueducts_spark.executor.server import ExecutorServer

        self.api_key = secrets.token_hex(16)
        self.loop = asyncio.new_event_loop()
        self.server = ExecutorServer(spark, "127.0.0.1", 0, api_key=self.api_key)
        self.thread = threading.Thread(target=self.loop.run_forever, daemon=True)
        self.thread.start()
        self.port = asyncio.run_coroutine_threadsafe(self.server.start(), self.loop).result(30)

    def close(self) -> None:
        asyncio.run_coroutine_threadsafe(self.server.stop(), self.loop).result(30)
        self.loop.call_soon_threadsafe(self.loop.stop)
        self.thread.join(30)
        if self.thread.is_alive():
            raise RuntimeError("executor loop did not stop")
        self.loop.close()
