"""Reference-API facade: ``Map`` / ``MapGroup`` with blurrily's surface.

Gives a user of the reference (``Blurrily::Map`` -- lib/blurrily/map.rb,
``Blurrily::MapGroup`` -- lib/blurrily/map_group.rb, and the wire commands
PUT/FIND/DELETE/CLEAR -- lib/blurrily/command_processor.rb) a drop-in
batch-backed equivalent:

    m = Map(spark)
    m.put("paris", 123)          # -> 6 (unique trigrams; 0 on dup ref)
    m.find("pariis")             # -> [(123, 5, 5)]
    m.delete(123)
    m.save("/path/db")           # parquet snapshot (atomic-rename analogue)
    m = Map.load(spark, "/path/db")

Semantics mirrored from the reference:
* put returns the needle's unique-trigram count, 0 if the ref is already
  stored (storage.c:398-473, dup-skip :408; golden map_spec.rb:38-41);
* weight <= 0 defaults to the normalized length (storage.c:409);
* find returns (ref, matches, weight) ordered (matches DESC, weight ASC,
  ref ASC), default limit 10 (storage.h:99-109, defaults.rb:6);
* save is memoized on a clean path (map.rb:25-30) and atomic (parquet
  overwrite commit replaces the reference's rename(2), storage.c:371-374);
* a ClosedError-equivalent guard after close() (map_ext.c:11-21).

Puts are tokenized on the driver and buffered as ``(ref, weight,
trigrams)`` rows; the next find, stats, delete or save flushes them into
the postings DataFrame in one job. First-wins dedup is exact because
put() checks the driver-side ref set before buffering.
This facade targets interactive/compat use; the batch pipeline entry points
(operators/, plans/) are the 10^12-row path.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blurrily_spark.config import LIMIT_DEFAULT, LIMIT_RANGE
from blurrily_spark.functions.tokenizer import normalize_py, trigrams_py
from blurrily_spark.operators.find import find_one
# unused here, but perfbench --trace wraps api.build_postings by name
from blurrily_spark.operators.index import POSTINGS_COLS, build_postings  # noqa: F401
from blurrily_spark.operators.index import stats as postings_stats

REF_RANGE = (1, 1 << 31)     # lib/blurrily/defaults.rb:8
WEIGHT_RANGE = (0, 1 << 31)  # lib/blurrily/defaults.rb:9

# the snapshot format this engine reads/writes (the reference's file header
# + versioning check, ext/blurrily/storage.c:244-250, becomes a schema check)
POSTINGS_SCHEMA = {"trigram": "int", "ref": "bigint", "weight": "int"}


class ClosedError(RuntimeError):
    """Operation on a closed Map (ext/blurrily/map_ext.c:11-21)."""


class ProtocolError(RuntimeError):
    """Malformed snapshot or wire command (the reference refuses foreign /
    corrupt files with EPROTO -- ext/blurrily/storage.c:244-250,
    spec/blurrily/map_spec.rb:281-330 -- and bad commands with an ERROR
    envelope, lib/blurrily/command_processor.rb:6)."""


def validate_needle(needle) -> None:
    """C7 client-side needle check (lib/blurrily/client.rb:104-106)."""
    if not isinstance(needle, str) or not needle or "\t" in needle:
        raise ValueError("bad needle")


def validate_ref(ref) -> None:
    """C7 client-side ref check (lib/blurrily/client.rb:108-110)."""
    if not isinstance(ref, int) or not REF_RANGE[0] <= ref <= REF_RANGE[1]:
        raise ValueError(f"REF value must be in {REF_RANGE[0]}..{REF_RANGE[1]}")


class Map:
    def __init__(self, spark: SparkSession, postings: DataFrame | None = None):
        self._spark = spark
        self._postings = postings  # flushed state (None = empty)
        self._buffer: list[tuple[int, int, list[int]]] = []  # (ref, weight, trigrams)
        # None = unknown (lazy): loading a snapshot must NOT run a driver
        # collect over every stored ref -- the set is materialized only when
        # the first put() actually needs the membership test.
        self._refs: set[int] | None = set() if postings is None else None
        self._clean_path: str | None = None
        self._closed = False

    # -- guards ----------------------------------------------------------

    def _guard(self) -> None:
        if self._closed:
            raise ClosedError("map is closed")

    # Bound on the driver-side ref set the interactive facade materializes
    # for put()'s dup-ref test. 10M longs ~= a few hundred MB of Python set
    # -- fine for the single-process facade this class is; a snapshot with
    # more refs than this is batch-pipeline territory, where the membership
    # test is the distributed anti-join (operators/index.py
    # append_postings), not a driver set. The cap fails loudly instead of
    # OOMing the driver; tests shrink it via the attribute.
    REFS_MATERIALIZE_CAP = 10_000_000

    def _known_refs(self) -> set[int]:
        if self._refs is None:
            cap = int(self.REFS_MATERIALIZE_CAP)
            rows = (
                self._postings.select("ref").distinct().limit(cap + 1).collect()
            )
            if len(rows) > cap:
                raise RuntimeError(
                    f"snapshot holds more than {cap} distinct refs; the "
                    "interactive Map facade materializes refs driver-side "
                    "for put()'s dup test -- use the batch path "
                    "(operators/index.append_postings, which does a "
                    "distributed anti-join) for corpora this size"
                )
            self._refs = {r["ref"] for r in rows}
        return self._refs

    # -- write path -------------------------------------------------------

    def put(self, needle: str, ref: int, weight: int | None = None) -> int:
        """Returns the number of (unique) trigrams stored; 0 for a dup ref."""
        self._guard()
        ref = int(ref)
        if ref in self._known_refs():
            return 0
        norm = normalize_py(needle)
        tg = trigrams_py(norm)
        weight = int(weight or 0)
        self._buffer.append((ref, weight if weight > 0 else len(norm), tg))
        self._refs.add(ref)
        self._clean_path = None
        return len(tg)

    def delete(self, ref: int) -> None:
        self._guard()
        ref = int(ref)
        self._flush()
        if self._postings is not None:
            self._postings = self._postings.where(F.col("ref") != ref)
        if self._refs is not None:
            self._refs.discard(ref)
        self._clean_path = None

    def clear(self) -> None:
        self._guard()
        self._postings = None
        self._buffer.clear()
        self._refs = set()
        self._clean_path = None

    # -- read path ---------------------------------------------------------

    def find(self, needle: str, limit: int = LIMIT_DEFAULT) -> list[tuple[int, int, int]]:
        """[(ref, matches, weight), ...] -- reference Map#find semantics.

        ``limit <= 0`` falls back to the default of 10 (map_ext.c:142-146);
        a limit beyond LIMIT_RANGE is refused (lib/blurrily/defaults.rb:7,
        client.rb:76-84 -- the reference's clients never send more).
        """
        self._guard()
        limit = int(limit)
        if limit > LIMIT_RANGE[1]:
            raise ValueError(
                f"limit must be in {LIMIT_RANGE[0]}..{LIMIT_RANGE[1]}"
            )
        self._flush()
        if self._postings is None:
            return []
        return [tuple(r) for r in find_one(self._postings, needle, limit).collect()]

    def stats(self) -> dict[str, int]:
        self._guard()
        self._flush()
        if self._postings is None:
            return {"references": 0, "trigrams": 0}
        row = postings_stats(self._postings).collect()[0]
        return {"references": row["references"], "trigrams": row["trigrams"]}

    # -- persistence -------------------------------------------------------

    def save(self, path: str) -> None:
        """Parquet snapshot; memoized while the map is unchanged (map.rb:25-30).

        Idempotence contract: the reference promises byte-identical files
        across repeated saves (spec/blurrily/map_spec.rb:265-269). Here the
        clean-path memo gives the same guarantee *at snapshot granularity*
        -- an unchanged map never rewrites at all (test_save_memoized_
        clean_path asserts no mtime change); a dirtied-then-saved map
        produces a semantically identical but not byte-identical parquet
        (row order inside files is partitioning-dependent). Byte identity
        of a columnar snapshot is an anti-goal at cluster scale -- the
        stable identity is the table commit, not the file bytes.
        """
        self._guard()
        if self._clean_path == path:
            return
        self._flush()
        if self._postings is not None and self._reads_from(path):
            # load(path) -> delete(ref) -> save(path): the postings lineage
            # still reads the target, and Spark refuses to overwrite a path
            # it is reading from. Materialize first (localCheckpoint), the
            # engine-side analogue of the reference's write-then-rename(2)
            # atomic save (ext/blurrily/storage.c:371-374).
            self._postings = self._postings.localCheckpoint()
        df = (
            self._postings
            if self._postings is not None
            else self._spark.createDataFrame([], "trigram int, ref long, weight int")
        )
        df.write.mode("overwrite").parquet(path)
        self._postings = self._spark.read.parquet(path)
        self._clean_path = path

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Map":
        """Open a snapshot. Missing path => FileNotFoundError (the
        reference's ENOENT); unreadable or wrong-schema data =>
        ProtocolError (its EPROTO, storage.c:244-250). Loading runs NO
        Spark job -- refs are resolved lazily on the first put()."""
        if not os.path.exists(path):
            raise FileNotFoundError(path)
        try:
            postings = spark.read.parquet(path)
        except Exception as exc:  # unreadable/corrupt/not-parquet
            raise ProtocolError(f"not a postings snapshot: {path}") from exc
        found = {f.name: f.dataType.simpleString() for f in postings.schema.fields}
        bad = {
            col: found.get(col) for col, t in POSTINGS_SCHEMA.items()
            if found.get(col) != t
        }
        if bad:
            raise ProtocolError(
                f"not a postings snapshot: {path} (expected {POSTINGS_SCHEMA}, "
                f"mismatches {bad})"
            )
        m = cls(spark, postings.select(*POSTINGS_COLS))
        m._clean_path = path
        return m

    def close(self) -> None:
        self._closed = True

    # -- internals ----------------------------------------------------------

    def _reads_from(self, path: str) -> bool:
        """True when the postings lineage reads files under ``path``."""
        from urllib.parse import urlparse

        target = os.path.abspath(path)
        for uri in self._postings.inputFiles():
            p = os.path.abspath(urlparse(uri).path or uri)
            if p == target or p.startswith(target + os.sep):
                return True
        return False

    def _flush(self) -> None:
        if not self._buffer:
            return
        batch = self._spark.createDataFrame(
            self._buffer, "ref long, weight int, tg array<int>"
        ).select(F.explode("tg").alias("trigram"), "ref", "weight")
        if self._postings is not None:
            batch = self._postings.select(*POSTINGS_COLS).unionByName(batch)
        # one job per flush; the narrow coalesce keeps the partition count
        # (and so the task count of every later FIND) from growing per flush
        sc = self._spark.sparkContext
        self._postings = batch.coalesce(sc.defaultParallelism).localCheckpoint()
        self._buffer.clear()


class MapGroup:
    """Named multi-tenant maps (lib/blurrily/map_group.rb): one Map per db
    name, lazily loaded from ``directory`` if a saved snapshot exists."""

    def __init__(self, spark: SparkSession, directory: str = "."):
        self._spark = spark
        self._dir = directory
        self._maps: dict[str, Map] = {}

    def _path(self, name: str) -> str:
        return os.path.join(self._dir, f"{name}.trigrams")

    def map(self, name: str) -> Map:
        if name not in self._maps:
            path = self._path(name)
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                self._maps[name] = Map.load(self._spark, path)
            else:
                self._maps[name] = Map(self._spark)
        return self._maps[name]

    def clear(self, name: str) -> Map:
        self._maps[name] = Map(self._spark)
        return self._maps[name]

    def save_all(self) -> None:
        for name, m in self._maps.items():
            m.save(self._path(name))


class CommandProcessor:
    """C5: wire-command dispatch + error envelope
    (lib/blurrily/command_processor.rb, goldens
    spec/blurrily/command_processor_spec.rb).

    One tab-separated request line in, one ``OK\\t...`` / ``ERROR\\t<msg>``
    line out; FIND results are flattened (ref, matches, weight) triples.
    The TCP accept loop (C6) lives in ``blurrily_spark.server`` and wraps
    this class; the batch entry point remains spark-submit (north rule).
    """

    COMMANDS = ("FIND", "PUT", "DELETE", "CLEAR")
    _DB_RE = re.compile(r"^[a-z_]+$")
    _NUM_RE = re.compile(r"^\d+$")

    def __init__(self, map_group: MapGroup):
        self._group = map_group
        # handler signatures are fixed for the object's lifetime; build
        # them once -- process_command sits inside the TCP server's one
        # serialized section, so per-request inspect.signature() would be
        # pure added latency on the hot path
        import inspect

        self._signatures = {
            cmd: inspect.signature(getattr(self, f"_on_{cmd}"))
            for cmd in self.COMMANDS
        }

    def process_command(self, line: str) -> str:
        parts = line.split("\t")
        command, map_name, args = parts[0], parts[1] if len(parts) > 1 else "", parts[2:]
        try:
            if command not in self.COMMANDS:
                raise ProtocolError("Unknown command")
            if not self._DB_RE.match(map_name):
                raise ProtocolError("Invalid database name")
            handler = getattr(self, f"_on_{command}")
            # arity is validated BEFORE dispatch (signature bind), so a
            # genuine TypeError raised inside a command implementation
            # propagates as a bug instead of masquerading as the protocol's
            # wrong-number-of-arguments reply
            try:
                self._signatures[command].bind(map_name, *args)
            except TypeError as exc:
                raise ProtocolError("wrong number of arguments") from exc
            result = handler(map_name, *args)
            return "\t".join(["OK", *[str(x) for x in (result or [])]])
        except (ProtocolError, ValueError) as exc:
            return f"ERROR\t{exc}"

    # -- commands (command_processor.rb:26-51) ---------------------------

    def _check_ref(self, ref: str) -> int:
        if not self._NUM_RE.match(ref) or not REF_RANGE[0] <= int(ref) <= REF_RANGE[1]:
            raise ProtocolError("Invalid reference")
        return int(ref)

    def _on_PUT(self, map_name: str, needle: str, ref: str, weight: str | None = None):
        ref_i = self._check_ref(ref)
        if weight is not None and (
            not self._NUM_RE.match(weight)
            or not WEIGHT_RANGE[0] <= int(weight) <= WEIGHT_RANGE[1]
        ):
            raise ProtocolError("Invalid weight")
        self._group.map(map_name).put(needle, ref_i, int(weight) if weight else 0)
        return None

    def _on_DELETE(self, map_name: str, ref: str):
        self._group.map(map_name).delete(self._check_ref(ref))
        return None

    def _on_FIND(self, map_name: str, needle: str, limit: str | None = None):
        if limit is not None and not (
            self._NUM_RE.match(limit) and LIMIT_RANGE[0] <= int(limit) <= LIMIT_RANGE[1]
        ):
            raise ProtocolError("Limit must be a number")
        results = self._group.map(map_name).find(
            needle, int(limit) if limit else LIMIT_DEFAULT
        )
        return [x for triple in results for x in triple]

    def _on_CLEAR(self, map_name: str):
        self._group.clear(map_name)
        return None
