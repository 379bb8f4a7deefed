"""C6: line-oriented TCP protocol server + client.

Re-creates the reference's network face on the Python stdlib:

* ``BlurrilyServer`` -- the EventMachine accept loop
  (lib/blurrily/server.rb:35-47): one tab-separated request line in, one
  ``OK[\\t...]`` / ``ERROR\\t<msg>`` response line out, protocol errors keep
  the connection open (spec/blurrily/server_spec.rb:35-40). Periodic
  autosave every 60 s plus save-on-shutdown mirror
  lib/blurrily/server.rb:24-27.
* ``BlurrilyClient`` -- the Ruby client (lib/blurrily/client.rb):
  client-side needle/ref/limit/weight validation, request formatting and
  response parsing into (ref, matches, weight) triples.
* ``main()`` -- the CLI entry point (bin/blurrily:1-43): ``-p/--port``,
  ``-d/--directory``, ``-b/--bind``, SIGUSR1 => save, INT/TERM => clean
  stop (signals are process-global, so only the CLI installs handlers; the
  library class exposes ``save()``/``stop()`` instead).

Concurrency model: the reference reactor is single-threaded per event loop
(SURVEY.md §3.3) -- concurrent connections are accepted but commands are
processed one at a time. We mirror that exactly: a ``ThreadingTCPServer``
accepts connections concurrently while one lock serializes
``process_command`` (the facade ``Map`` buffers puts driver-side and is not
thread-safe; Spark job submission itself is thread-safe, so a cluster
deployment wanting parallel FINDs would drop the lock and route through the
immutable postings DataFrame only).

Latency expectation: the reference answers FIND in 1-2 ms (README.md:15-17)
because the whole index lives in one process's mapped memory. Here a FIND
is 2 Spark jobs (a groupBy(ref) over the postings of the driver-tokenized
needle's trigrams, then a TakeOrderedAndProject top-k), plus 1 flush job if
writes are pending: a median of ~0.35-0.45 s on local[4] at both 8k and 40k
stored turns, so job scheduling, not data size, sets it. This server exists for
protocol parity and operational glue (autosave, SIGUSR1, multi-db
isolation), not interactive point lookups; the serving answer at scale is
the precomputed side: export the postings/top-k tables this engine builds
(bucketed by trigram, see operators/index.py) into a point-lookup store,
and keep Spark for the batch/streaming maintenance of those tables.

Known byte-level divergence from the reference: incoming request lines are
stripped of line terminators ONLY (``rstrip("\\r\\n")``), while the Ruby
handler applies ``String#strip`` (which also removes leading/trailing
spaces and tabs, lib/blurrily/server.rb:41). Tabs are protocol separators
so that part is moot, but a needle with trailing spaces tokenizes here
with those spaces and in the reference without; we preserve them because
spaces inside the final field are legitimate content and the wire format
has no way to quote them. Documented intentionally.
"""

from __future__ import annotations

import argparse
import socket
import socketserver
import threading

from pyspark.sql import SparkSession

from blurrily_spark.api import WEIGHT_RANGE, CommandProcessor, MapGroup
from blurrily_spark.api import validate_needle, validate_ref
from blurrily_spark.config import LIMIT_DEFAULT, LIMIT_RANGE

DEFAULT_HOST = "localhost"   # lib/blurrily/defaults.rb:2
DEFAULT_PORT = 12021         # lib/blurrily/defaults.rb:3
DEFAULT_DATABASE = "words"   # lib/blurrily/defaults.rb:4
SAVE_INTERVAL_SECONDS = 60.0  # lib/blurrily/server.rb:25


class _Handler(socketserver.StreamRequestHandler):
    """One response line per request line; EOF ends the connection
    (lib/blurrily/server.rb:40-46)."""

    def handle(self) -> None:
        for raw in self.rfile:
            # strip line terminators ONLY: tabs/spaces are protocol content
            # (a trailing space in a FIND needle changes its trigram set)
            line = raw.decode("utf-8", errors="replace").rstrip("\r\n")
            with self.server.command_lock:  # type: ignore[attr-defined]
                out = self.server.processor.process_command(line)  # type: ignore[attr-defined]
            try:
                self.wfile.write((out + "\n").encode("utf-8"))
                self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError):
                return


class _TCPServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


class BlurrilyServer:
    """The TCP face of the engine (lib/blurrily/server.rb).

    ``port=0`` binds an ephemeral port (exposed via ``.port`` after
    ``start()``), which is how the reference's own specs run it
    (spec/spec_helper.rb ``find_free_port``).
    """

    def __init__(
        self,
        spark: SparkSession,
        host: str = DEFAULT_HOST,
        port: int = DEFAULT_PORT,
        directory: str = ".",
        save_interval: float = SAVE_INTERVAL_SECONDS,
    ):
        self._host = host
        self._requested_port = port
        self._save_interval = save_interval
        self.map_group = MapGroup(spark, directory)
        self.processor = CommandProcessor(self.map_group)
        self._server: _TCPServer | None = None
        self._serve_thread: threading.Thread | None = None
        self._saver_thread: threading.Thread | None = None
        self._stopping = threading.Event()
        self._save_requested = threading.Event()
        # plain Lock: saves and command processing are mutually exclusive
        # across threads. Signal handlers must NEVER call save() directly
        # (they run nested on the main thread's stack: a plain Lock
        # deadlocks, an RLock would let a second overwrite-write of the
        # same snapshot paths interleave with the first) -- they call
        # request_save(), and the autosave thread performs the save.
        self._lock = threading.Lock()

    # -- lifecycle --------------------------------------------------------

    def start(self) -> "BlurrilyServer":
        if self._server is not None:
            raise RuntimeError("server already started")
        # a stopped server may be started again: reset the lifecycle events,
        # otherwise the restarted autosave thread would see the stale
        # _stopping flag and exit immediately (silently disabling periodic
        # autosave and request_save()/SIGUSR1 on the second life)
        self._stopping.clear()
        self._save_requested.clear()
        self._server = _TCPServer((self._host, self._requested_port), _Handler)
        self._server.processor = self.processor  # type: ignore[attr-defined]
        self._server.command_lock = self._lock  # type: ignore[attr-defined]
        self._serve_thread = threading.Thread(
            target=self._server.serve_forever, name="blurrily-accept", daemon=True
        )
        self._serve_thread.start()
        # EventMachine.add_periodic_timer(60, &saver) -- server.rb:25
        self._saver_thread = threading.Thread(
            target=self._save_loop, name="blurrily-autosave", daemon=True
        )
        self._saver_thread.start()
        return self

    @property
    def port(self) -> int:
        if self._server is None:
            raise RuntimeError("server not started")
        return self._server.server_address[1]

    def save(self) -> None:
        """Persist every map (the periodic-timer / shutdown action,
        lib/blurrily/server.rb:24-27). Do not call from a signal handler
        -- use :meth:`request_save`."""
        with self._lock:
            self.map_group.save_all()

    def request_save(self) -> None:
        """Async save trigger, safe from signal handlers: only sets an
        event; the autosave thread wakes and runs the actual save (the
        SIGUSR1 action, lib/blurrily/server.rb:27)."""
        self._save_requested.set()

    def stop(self) -> None:
        """Stop accepting, then save -- EventMachine.add_shutdown_hook
        parity (lib/blurrily/server.rb:26)."""
        self._stopping.set()
        self._save_requested.set()  # wake the saver so it can exit promptly
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
        if self._serve_thread is not None:
            self._serve_thread.join(timeout=10)
            self._serve_thread = None
        if self._saver_thread is not None:
            self._saver_thread.join(timeout=self._save_interval + 10)
            self._saver_thread = None
        self.save()

    def __enter__(self) -> "BlurrilyServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    def _save_loop(self) -> None:
        while True:
            # wakes early on request_save(); a timeout is the periodic tick
            self._save_requested.wait(self._save_interval)
            if self._stopping.is_set():
                return
            self._save_requested.clear()
            self.save()


class ClientError(RuntimeError):
    """Server-side ERROR reply or broken protocol
    (lib/blurrily/client.rb:9)."""


class BlurrilyClient:
    """Line-protocol client (lib/blurrily/client.rb).

    ``find`` returns ``[[ref, matches, weight], ...]`` ordered by the
    server's rank; ``put``/``delete``/``clear`` return ``None`` on ``OK``.
    Validation mirrors the Ruby client: needles must be non-empty tab-free
    strings (client.rb:103-105), refs in ``REF_RANGE`` (client.rb:107-109),
    limits in ``LIMIT_RANGE``, weights in ``WEIGHT_RANGE``.
    """

    def __init__(
        self,
        host: str = DEFAULT_HOST,
        port: int = DEFAULT_PORT,
        db_name: str = DEFAULT_DATABASE,
    ):
        self._host = host
        self._port = port
        self._db = db_name
        self._sock: socket.socket | None = None
        self._rfile = None

    # -- commands (client.rb:52-95) ---------------------------------------

    def find(self, needle: str, limit: int | None = None) -> list[list[int]]:
        if limit is None:
            limit = LIMIT_DEFAULT
        validate_needle(needle)
        if not LIMIT_RANGE[0] <= limit <= LIMIT_RANGE[1]:
            raise ValueError(f"LIMIT value must be in {LIMIT_RANGE[0]}..{LIMIT_RANGE[1]}")
        flat = [int(x) for x in self._send(["FIND", self._db, needle, limit])]
        return [flat[i : i + 3] for i in range(0, len(flat), 3)]

    def put(self, needle: str, ref: int, weight: int = 0) -> None:
        validate_needle(needle)
        validate_ref(ref)
        if not WEIGHT_RANGE[0] <= weight <= WEIGHT_RANGE[1]:
            raise ValueError(f"WEIGHT value must be in {WEIGHT_RANGE[0]}..{WEIGHT_RANGE[1]}")
        self._send(["PUT", self._db, needle, ref, weight])

    def delete(self, ref: int) -> None:
        validate_ref(ref)
        self._send(["DELETE", self._db, ref])

    def clear(self) -> None:
        self._send(["CLEAR", self._db])

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._sock.close()
            finally:
                self._sock = None
                self._rfile = None

    def __enter__(self) -> "BlurrilyClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- internals ---------------------------------------------------------

    def _connection(self):
        if self._sock is None:
            self._sock = socket.create_connection((self._host, self._port))
            self._rfile = self._sock.makefile("rb")
        return self._sock

    def _send(self, argv: list) -> list[str]:
        # request formatting + response parsing, client.rb:117-133
        sock = self._connection()
        sock.sendall(("\t".join(str(a) for a in argv) + "\n").encode("utf-8"))
        raw = self._rfile.readline()
        if not raw:
            raise ClientError("Server disconnected")
        line = raw.decode("utf-8").rstrip("\n")
        if line == "OK":
            return []
        if line.startswith("OK\t"):
            return line[3:].split("\t")
        if line.startswith("ERROR\t"):
            raise ClientError(line[6:])
        raise ClientError("Server did not respect protocol")


def main(argv: list[str] | None = None) -> None:
    """CLI entry point (bin/blurrily:1-43)."""
    import signal

    parser = argparse.ArgumentParser(prog="blurrily-spark-server")
    parser.add_argument("-p", "--port", type=int, default=DEFAULT_PORT,
                        help="Bind to PORT, defaults to 12021")
    parser.add_argument("-d", "--directory", default=".",
                        help="Work in DIRECTORY, defaults to .")
    parser.add_argument("-b", "--bind", default="0.0.0.0",
                        help="Bind to ADDRESS, defaults to 0.0.0.0")
    args = parser.parse_args(argv)

    from blurrily_spark.config import get_spark

    spark = get_spark("blurrily-server")
    server = BlurrilyServer(
        spark, host=args.bind, port=args.port, directory=args.directory
    ).start()

    done = threading.Event()
    # handlers only set events -- a save running nested on the main
    # thread's stack could interleave two writes of one snapshot path
    signal.signal(signal.SIGUSR1, lambda *_: server.request_save())  # server.rb:27
    signal.signal(signal.SIGINT, lambda *_: done.set())           # server.rb:21
    signal.signal(signal.SIGTERM, lambda *_: done.set())          # server.rb:22
    done.wait()
    server.stop()


if __name__ == "__main__":
    main()
