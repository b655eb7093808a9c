"""The table log: ``<path>/_log/<version>.json``, one entry per change.

An append, compaction, delete, retention sweep or older-layout upgrade
writes its data files under new names, then publishes them in one
entry: the files added and removed per table with their partition
values, the names-catalog delta or replacement, and an append's
content key. Readers take the current version's files and never list a
data directory — the batch-id log of Structured Streaming (SIGMOD'18)
and Spark's ``_spark_metadata``; the reference commits a series' chunk
and aggregates in one conditional ``UpdateItem``
(ref: pkg/appender/store.go:374-397).

- An entry is created exclusively — written whole, then hard-linked to
  its version's name, which fails if that exists; the loser re-reads
  and retries. An append only adds files, so it never conflicts; a
  rewrite whose inputs another commit removed raises.
- An append whose content key is committed is a no-op; a delete or
  sweep, which removes samples, forgets the keys.
- Every :data:`SNAPSHOT_EVERY` versions an entry carries the full state,
  so opening a table reads a bounded number of entries.
- Files a commit removes are deleted from disk when the next removing
  commit lands, so a query planned before it still finds them.
- A table without a log is bootstrapped once, from a listing.
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import unquote

from v3io_tsdb_spark.config import SCHEMA_FILE
from v3io_tsdb_spark.errors import TSDBError

LOG_DIR = "_log"
SNAPSHOT_EVERY = 16
CATALOG_FILE = "_names_catalog.json"  # the names catalog of a table from before the log
# table -> its directory under the TSDB root, and its partition columns
TABLES = {"samples": "samples", "rollup": "rollup", "kinds": "series_kinds", "maxts": "series_maxts"}
PARTITIONS = {"samples": ("dt",), "rollup": ("set", "rdt")}


class CommitConflict(TSDBError):
    """A rewrite's input files were removed by another commit."""


def partition_values(rel: str) -> dict:
    """``{column: value}`` of a relative partition directory path."""
    return dict(unquote(s).split("=", 1) for s in rel.split(os.sep) if "=" in s)


def _generation(root: str) -> str | None:
    """The ``gen-N`` directory an older layout's ``_CURRENT`` pointer
    names in a table it compacted; None for a flat table."""
    try:
        with open(os.path.join(root, "_CURRENT")) as fh:
            return fh.read().strip()
    except OSError:
        return None


def _bootstrap(path: str) -> dict:
    """Version 0 of a table without a log, from a directory listing: the
    current generation of each table (:func:`_generation`), else its
    flat directory; the names catalog from its sidecar file, or empty
    when there are no samples."""
    files, roots = {}, {}
    for table, d in TABLES.items():
        gen = _generation(os.path.join(path, d))
        roots[table] = os.path.join(d, gen) if gen else d
        keys, files[table] = PARTITIONS.get(table, ()), {}
        base = os.path.join(path, roots[table])
        for dirpath, dirs, names in os.walk(base):
            rel = os.path.relpath(dirpath, base)
            depth = 0 if rel == "." else len(rel.split(os.sep))
            # only the partition directories of this table's layout
            dirs[:] = [x for x in dirs if depth < len(keys) and x.startswith(keys[depth] + "=")]
            if depth == len(keys):
                for n in names:
                    if n.startswith("part-"):
                        rp = os.path.normpath(os.path.join(roots[table], rel, n))
                        files[table][rp] = partition_values(rel)
    names = None if files["samples"] else {}
    if os.path.exists(os.path.join(path, CATALOG_FILE)):
        with open(os.path.join(path, CATALOG_FILE)) as fh:
            names = json.load(fh).get("names", {})
    return {"version": 0, "state": {"version": 0, "files": files, "roots": roots, "names": names}}


class TableLog:
    """The state of one table's log at the version last read."""

    def __init__(self, path: str):
        self.path = path
        self._dir = os.path.join(path, LOG_DIR)
        self._load({"version": -1})

    def _load(self, s: dict) -> None:
        self.version = s["version"]
        self.files = {t: dict(s.get("files", {}).get(t, {})) for t in TABLES}
        self.roots = dict(s.get("roots") or TABLES)
        names = s.get("names")
        self.names = None if names is None else {k: set(v) for k, v in names.items()}
        self.keys = set(s.get("keys", ()))
        # files removed by the last removing commit, still on disk
        self.retired = list(s.get("retired", ()))

    def state(self) -> dict:
        names = None if self.names is None else {k: sorted(v) for k, v in self.names.items()}
        return {"version": self.version, "files": self.files, "roots": self.roots,
                "names": names, "keys": sorted(self.keys), "retired": self.retired}

    def refresh(self, create: bool = False) -> list:
        """Catch up with the entries committed since the version held;
        returns them. A table without a log is bootstrapped first (when
        it has a schema, or ``create``)."""
        if self.version < 0:
            listed = os.listdir(self._dir) if os.path.isdir(self._dir) else []
            found = [int(f[:-5]) for f in listed if f[:-5].isdigit()]
            if not found:
                if not (create or os.path.exists(os.path.join(self.path, SCHEMA_FILE))):
                    return []
                self._create(_bootstrap(self.path))  # or another writer's
                found = [0]
            self._load(self._read(max(v for v in found if v % SNAPSHOT_EVERY == 0))["state"])
        out = []
        while (e := self._read(self.version + 1)) is not None:
            self._apply(e)
            out.append(e)
        return out

    def _apply(self, e: dict) -> None:
        if "state" in e:
            return self._load(e["state"])
        for t, fs in e.get("add", {}).items():
            self.files[t].update(fs)
        for t, fs in e.get("remove", {}).items():
            for f in fs:
                self.files[t].pop(f, None)
        if e.get("remove"):
            self.retired = [f for fs in e["remove"].values() for f in fs]
        if "names" in e:
            self.names = {k: set(v) for k, v in e["names"].items()}
        for k, v in e.get("merge", {}).items():
            self.names = self.names or {}
            self.names.setdefault(k, set()).update(v)
        if e.get("forget"):
            self.keys = set()
        if e.get("key"):
            self.keys.add(e["key"])
        self.version = e["version"]

    def commit(self, add=None, remove=None, names=None, merge=None, key=None, forget=False) -> bool:
        """Publish one change as the next version: ``add`` and ``remove``
        are ``{table: files}``; ``names`` replaces the catalog (names
        that commits landing first add are kept), ``merge`` adds to it.
        False, and nothing published, when ``key`` is committed;
        ``forget`` drops the committed keys (a rewrite deleting samples)."""
        add = {t: fs for t, fs in (add or {}).items() if fs}
        remove = {t: sorted(fs) for t, fs in (remove or {}).items() if fs}
        while True:
            for e in self.refresh(create=True):
                for k, v in [*e.get("names", {}).items(), *e.get("merge", {}).items()]:
                    if names is not None:  # keep what commits landing first add
                        names.setdefault(k, set()).update(v)
            if key is not None and key in self.keys:
                return False
            if any(f not in self.files[t] for t, fs in remove.items() for f in fs):
                raise CommitConflict(f"{self.path}: files this rewrite read were removed")
            e = {"version": self.version + 1, "add": add, "remove": remove, "key": key, "forget": forget}
            if names is not None:
                e["names"] = {k: sorted(v) for k, v in names.items()}
            if merge:
                e["merge"] = {k: sorted(v) for k, v in merge.items()}
            if e["version"] % SNAPSHOT_EVERY == 0:
                nxt = TableLog(self.path)
                nxt._load(json.loads(json.dumps(self.state())))
                nxt._apply(e)
                e["state"] = nxt.state()
            retired = self.retired
            if self._create(e):
                break
        self._apply(e)
        if remove:
            for f in retired:
                try:
                    os.remove(os.path.join(self.path, f))
                except OSError:
                    pass
        return True

    def _entry(self, version: int) -> str:
        return os.path.join(self._dir, f"{version}.json")

    def _read(self, version: int) -> dict | None:
        try:
            with open(self._entry(version)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def _create(self, e: dict) -> bool:
        """Create the entry of ``e``'s version whole, or return False
        when that version exists."""
        os.makedirs(self._dir, exist_ok=True)
        tmp = os.path.join(self._dir, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(e, fh)
        try:
            os.link(tmp, self._entry(e["version"]))
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
