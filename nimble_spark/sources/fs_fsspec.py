"""``FsspecFS`` — the MetadataFS seam over any fsspec
``AbstractFileSystem`` (the third-party FS API the Python data
ecosystem standardizes on: s3fs, gcsfs, adlfs, local, memory, …).

This is the production half of the object-store story whose protocol
half is proven by ``ObjectStoreSimFS`` (fs.py): the table layer's
metadata protocol needs only the primitives below, and every one maps
to a documented fsspec method, so pointing the engine at S3/GCS/ABFS
is ``set_fs(FsspecFS(fsspec.filesystem("s3", ...)))`` — no table-layer
change. The reference draws the identical seam with
``velox::ReadFile/WriteFile`` (dwio/nimble/velox/VeloxReader.h:91,
VeloxWriter.h:55): reader/writer take file abstractions, never paths.

fsspec method surface the adapter relies on (all public/documented):
``cat_file, pipe_file, exists, info, checksum, modified, ls, walk,
makedirs, isdir, mv, rm_file, rm``. ``_MiniLocalFsspec`` below
implements exactly that surface over local disk so the adapter is
exercised in CI even where the fsspec package is absent (this
container), and doubles as the written-down contract; when fsspec IS
installed, the same seam tests also run against the real
``fsspec.filesystem("file")`` (tests/test_fs_seam.py).

Semantics notes (the honest parts):

- ``write_atomic`` is ``pipe_file`` — the single-PUT model. On object
  stores a PUT is atomic at object granularity, which is the
  guarantee the manifest protocol needs. On fsspec's LOCAL backend a
  pipe_file is open+write (not rename-atomic); use the native
  ``LocalFS`` for POSIX deployments — FsspecFS targets stores.
- ``supports_atomic_dir_move = False`` unconditionally: no object
  store renames directories, so the table layer routes full rewrites
  through the root-republish path (per-object moves + atomic manifest
  publish), the same discipline ObjectStoreSimFS enforces.
- ``commit_lock`` acquires through the strongest primitive the
  backend offers, in order:

  1. **conditional PUT** — a ``put_if_absent(path, data) -> bool``
     hook on the backend (S3 ``If-None-Match: *`` — supported on S3
     proper since 2024 — / GCS ``x-goog-if-generation-match: 0`` /
     ABFS ``If-None-Match: *``): one round trip that either WINS or
     LOSES atomically. No verify window, no race — this is the
     multi-writer-safe path for object stores, and the one-winner
     multi-process drills in tests/test_multiprocess_lock.py run over
     it. fsspec has no standard spelling for conditional create, so
     the hook is duck-typed: any backend (or thin subclass wrapper)
     exposing ``put_if_absent`` gets the safe path automatically.
  2. **exclusive create** — ``open(mode="xb")``, real O_EXCL where
     the backend maps it faithfully (local files; stores whose fsspec
     driver forwards a conditional create). Equally race-free.
  3. **create-then-verify lease** — ONLY when the backend has
     neither (tests/test_fs_seam.py pins that selection order), with
     the DOCUMENTED race window: two writers racing inside the verify
     window can both believe they hold the lock — the same limitation
     as Delta-on-S3 without a coordination service. Deployments on
     such stores should wrap the backend with a ``put_if_absent``
     (one conditional PUT call) or use an external lease (the
     S3A/DynamoDB pattern) — see fs.py's mapping table.

  Stale locks (mtime older than ``stale_s``) are broken in every
  mode. The acquired mode is recorded on the lock (``lock.mode``) so
  deployments can assert they never silently run on the lease path.
"""

from __future__ import annotations

import os
import posixpath
import shutil
import threading
import time
import uuid
from datetime import datetime, timezone

from nimble_spark.sources.fs import MetadataFS


def _stable_token(data: bytes) -> str:
    """Process-stable content digest for CAS match tokens (the memory
    double's ETag analogue)."""
    import hashlib

    return hashlib.sha1(data).hexdigest()


class FsspecFS(MetadataFS):
    """MetadataFS over an fsspec AbstractFileSystem instance."""

    supports_atomic_dir_move = False  # no object store renames dirs

    def __init__(self, fs):
        self._fs = fs

    # ---- blobs -------------------------------------------------------
    def read_bytes(self, path: str) -> bytes:
        return self._fs.cat_file(path)

    def write_atomic(self, path: str, data: bytes) -> None:
        # the single-PUT model: atomic at object granularity on stores
        self._fs.pipe_file(path, data)

    def exists(self, path: str) -> bool:
        return self._fs.exists(path)

    def version(self, path: str) -> tuple:
        # checksum() is fsspec's cheap change token (ETag/generation on
        # stores, info-derived elsewhere); pair with size like LocalFS
        info = self._fs.info(path)
        return (self._fs.checksum(path), info.get("size"))

    def mtime(self, path: str) -> float:
        m = self._fs.modified(path)
        if isinstance(m, datetime):
            if m.tzinfo is None:
                m = m.replace(tzinfo=timezone.utc)
            return m.timestamp()
        return float(m)

    # ---- namespace ---------------------------------------------------
    def list_dir(self, path: str) -> list:
        # fsspec ls returns full paths; the seam contract is names
        return [posixpath.basename(p.rstrip("/")) for p in self._fs.ls(path, detail=False)]

    def walk(self, path: str):
        return self._fs.walk(path)

    def makedirs(self, path: str) -> None:
        self._fs.makedirs(path, exist_ok=True)

    # ---- mutation ----------------------------------------------------
    def move(self, src: str, dst: str) -> None:
        # fsspec mv = copy + rm on stores — exactly the non-atomic
        # window every metadata caller already tolerates (fs.py doc)
        self._fs.mv(src, dst, recursive=self._fs.isdir(src))

    def delete(self, path: str) -> None:
        self._fs.rm_file(path)

    def delete_tree(self, path: str) -> None:
        try:
            if self._fs.exists(path):
                self._fs.rm(path, recursive=True)
        except OSError:
            pass  # best-effort by contract (LocalFS: rmtree
            # ignore_errors=True); a racing vacuum/retry reclaims later

    # ---- concurrency -------------------------------------------------
    def commit_lock(self, table_path: str, timeout_s: float = 120.0,
                    stale_s: float = 600.0):
        return FsspecCommitLock(
            self._fs, f"{table_path.rstrip('/')}.__commit.lock",
            timeout_s=timeout_s, stale_s=stale_s,
        )

    # CAS publish (S3 PUT If-Match / GCS if-generation-match): exposed
    # when the backend offers BOTH conditional hooks — put_if_match for
    # the swap and put_if_absent for the None = create-if-absent case.
    # Like put_if_absent, the hooks are duck-typed because fsspec has
    # no standard conditional-write spelling.
    @property
    def supports_cas_publish(self) -> bool:
        return callable(getattr(self._fs, "put_if_match", None)) and callable(
            getattr(self._fs, "put_if_absent", None)
        )

    def write_if_version(self, path: str, data: bytes, expected_version) -> bool:
        if not self.supports_cas_publish:
            raise NotImplementedError(
                "backend has no conditional-PUT hooks (put_if_match / "
                "put_if_absent) — CAS publish unavailable; use the "
                "commit lock"
            )
        if expected_version is None:
            return bool(self._fs.put_if_absent(path, data))
        # version() is (checksum, size); the checksum is the ETag-style
        # match token the conditional PUT compares against
        return bool(self._fs.put_if_match(path, data, expected_version[0]))


class FsspecCommitLock:
    """Commit lock over an fsspec backend.

    Acquisition order (strongest primitive first; see module doc):
    conditional PUT (``put_if_absent`` hook — atomic win/lose, the
    multi-writer-safe object-store path) → exclusive create
    (``open(mode="xb")``) → create-then-verify lease (documented race
    window; selected only when the backend offers neither atomic
    primitive). ``self.mode`` records which path acquired, so callers
    and tests can assert the lease fallback was not silently used."""

    _SETTLE_S = 0.05

    def __init__(self, fs, lock_path: str, timeout_s: float, stale_s: float):
        self._fs = fs
        self.lock_path = lock_path
        self.timeout_s = timeout_s
        self.stale_s = stale_s
        self._token = f"{os.getpid()}@{uuid.uuid4().hex}".encode()
        self._held = False
        self.mode: str | None = None  # "conditional" | "exclusive" | "lease"

    def _try_conditional(self) -> bool | None:
        """Conditional-PUT create: one atomic round trip that either
        wins (object created with our token) or loses (object already
        exists). True acquired, False contended, None = backend has no
        ``put_if_absent`` hook. This is the If-None-Match: * /
        if-generation-match: 0 pattern, exposed as a duck-typed hook
        because fsspec has no standard conditional-create spelling."""
        fn = getattr(self._fs, "put_if_absent", None)
        if not callable(fn):
            return None
        try:
            return bool(fn(self.lock_path, self._token))
        except NotImplementedError:
            return None  # backend advertises the hook but can't honor it

    def _try_exclusive(self) -> bool | None:
        """True acquired, False contended, None = mode unsupported."""
        try:
            with self._fs.open(self.lock_path, "xb") as fh:
                fh.write(self._token)
            return True
        except FileExistsError:
            return False
        except (ValueError, NotImplementedError):
            return None  # backend has no exclusive-create

    def _try_lease(self) -> bool:
        if self._fs.exists(self.lock_path):
            return False
        self._fs.pipe_file(self.lock_path, self._token)
        time.sleep(self._SETTLE_S)  # let a racing writer's PUT land
        try:
            return self._fs.cat_file(self.lock_path) == self._token
        except FileNotFoundError:
            return False  # broken as stale by a third party mid-verify

    def _break_if_stale(self) -> None:
        try:
            fs_mtime = self._fs.modified(self.lock_path)
            age = time.time() - (
                fs_mtime.replace(tzinfo=fs_mtime.tzinfo or timezone.utc).timestamp()
                if isinstance(fs_mtime, datetime) else float(fs_mtime)
            )
            if age > self.stale_s:
                self._fs.rm_file(self.lock_path)
        except FileNotFoundError:
            return  # already released/broken — retry the acquire

    def __enter__(self):
        deadline = time.monotonic() + self.timeout_s
        while True:
            mode = "conditional"
            got = self._try_conditional()
            if got is None:
                mode = "exclusive"
                got = self._try_exclusive()
            if got is None:
                mode = "lease"
                got = self._try_lease()
            if got:
                self._held = True
                self.mode = mode
                return self
            self._break_if_stale()
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"could not acquire commit lock {self.lock_path} "
                    f"within {self.timeout_s}s (holder alive or stale_s "
                    f"not yet elapsed)"
                )
            time.sleep(0.1)

    def __exit__(self, *exc):
        if not self._held:
            return False
        try:
            # only release our OWN lock: a stale-break may have handed
            # the path to another writer while we were paused
            if self._fs.cat_file(self.lock_path) == self._token:
                self._fs.rm_file(self.lock_path)
        except FileNotFoundError:
            return False  # broken as stale — nothing of ours to free
        return False


class _MiniLocalFsspec:
    """The fsspec AbstractFileSystem method surface FsspecFS relies on,
    implemented over local disk — both the CI stand-in where the
    fsspec package is not installed and the written-down contract of
    what the adapter calls. Method names, signatures and return shapes
    mirror fsspec's documented behavior exactly (ls returns full
    paths; walk yields (root, dirs, files); info returns a dict with
    'size'; checksum is a cheap change token; modified returns a
    datetime; rm_file/rm raise FileNotFoundError when absent)."""

    def cat_file(self, path):
        with open(path, "rb") as fh:
            return fh.read()

    def pipe_file(self, path, data):
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)

    def exists(self, path):
        return os.path.exists(path)

    def info(self, path):
        st = os.stat(path)
        return {
            "name": path,
            "size": st.st_size,
            "type": "directory" if os.path.isdir(path) else "file",
            "mtime": st.st_mtime,
        }

    def checksum(self, path):
        st = os.stat(path)
        return hash((st.st_mtime_ns, st.st_size))

    def modified(self, path):
        return datetime.fromtimestamp(os.stat(path).st_mtime, tz=timezone.utc)

    def ls(self, path, detail=False):
        names = [os.path.join(path, n) for n in os.listdir(path)]
        if detail:
            return [self.info(p) for p in names]
        return names

    def walk(self, path):
        return os.walk(path)

    def makedirs(self, path, exist_ok=False):
        os.makedirs(path, exist_ok=exist_ok)

    def isdir(self, path):
        return os.path.isdir(path)

    def open(self, path, mode="rb"):
        if "x" in mode:
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        return open(path, mode)

    def put_if_absent(self, path, data):
        """Conditional create — the S3 ``PUT If-None-Match: *`` / GCS
        ``if-generation-match: 0`` primitive: atomically create the
        object iff absent. True = won (object now holds ``data``),
        False = lost (object already existed). Locally O_CREAT|O_EXCL
        is exactly that one-round-trip win/lose. Not part of fsspec's
        standard surface — FsspecCommitLock duck-types it so any
        backend/wrapper exposing it gets the race-free lock path."""
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
        finally:
            os.close(fd)
        return True

    def put_if_match(self, path, data, match_token):
        """Conditional replace — the S3 ``PUT If-Match: <etag>`` / GCS
        ``if-generation-match: <gen>`` primitive: atomically swap the
        object's content iff its current change token equals
        ``match_token``. True = swapped, False = token moved (writer
        lost the CAS race and must re-read). Locally the store's
        server-side atomicity is modeled by a short flock(2) on a
        sidecar, which serializes conditional writers cross-process."""
        import fcntl

        with open(f"{path}.__etag.lock", "a+b") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                if not os.path.exists(path) or self.checksum(path) != match_token:
                    return False
                tmp = f"{path}.castmp.{os.getpid()}"
                with open(tmp, "wb") as fh:
                    fh.write(data)
                os.replace(tmp, path)
                return True
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    def mv(self, src, dst, recursive=False):
        # like fsspec's generic mv: copy + rm (never rename) — the
        # object-store shape, so the adapter's tolerance is exercised
        if os.path.isdir(src):
            shutil.copytree(src, dst)
            shutil.rmtree(src)
        else:
            os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
            shutil.copy2(src, dst)
            os.unlink(src)

    def rm_file(self, path):
        os.unlink(path)

    def rm(self, path, recursive=False):
        if os.path.isdir(path):
            if not recursive:
                raise IsADirectoryError(path)
            shutil.rmtree(path)
        else:
            os.unlink(path)


class _MiniMemoryFsspec:
    """Key-value contract double with OBJECT-STORE-SHAPED semantics —
    the fsspec ``MemoryFileSystem`` surface FsspecFS relies on, over a
    plain dict of key → bytes. Unlike ``_MiniLocalFsspec`` (which
    inherits POSIX behavior from the OS and so can mask
    POSIX-assumptions in the adapter), this double has NO real
    directories: ``ls``/``walk`` are prefix LISTs computed from keys,
    ``makedirs`` only records a namespace marker, ``mv`` is copy+rm
    over keys, and ``put_if_absent`` is a mutex-guarded conditional
    create (one atomic win/lose, the If-None-Match model). The full
    Spark lifecycle cannot run over it — the DATA plane (parquet)
    lives on real disk by design, and rewrite moves route data files
    through the seam — so this double backs the per-method contract
    suite and the lock drills (tests/test_fsspec_contract.py), where
    object-store key semantics matter most."""

    def __init__(self):
        self._store: dict[str, bytes] = {}
        self._mtimes: dict[str, float] = {}
        self._dirs: set[str] = set()
        self._mutex = threading.Lock()

    @staticmethod
    def _norm(path):
        return path.rstrip("/")

    def _children_prefix(self, path):
        return self._norm(path) + "/"

    # ---- blobs ----
    def cat_file(self, path):
        try:
            return self._store[self._norm(path)]
        except KeyError:
            raise FileNotFoundError(path) from None

    def pipe_file(self, path, data):
        key = self._norm(path)
        with self._mutex:
            self._store[key] = bytes(data)
            self._mtimes[key] = time.time()

    def put_if_absent(self, path, data):
        key = self._norm(path)
        with self._mutex:
            if key in self._store:
                return False
            self._store[key] = bytes(data)
            self._mtimes[key] = time.time()
            return True

    def put_if_match(self, path, data, match_token):
        key = self._norm(path)
        with self._mutex:
            if (
                key not in self._store
                or _stable_token(self._store[key]) != match_token
            ):
                return False
            self._store[key] = bytes(data)
            self._mtimes[key] = time.time()
            return True

    def exists(self, path):
        key = self._norm(path)
        return key in self._store or self.isdir(path)

    def info(self, path):
        key = self._norm(path)
        if key in self._store:
            return {"name": key, "size": len(self._store[key]), "type": "file"}
        if self.isdir(path):
            return {"name": key, "size": 0, "type": "directory"}
        raise FileNotFoundError(path)

    def checksum(self, path):
        # content-derived token, like fsspec memory's tokenize(data).
        # Stable digest, NOT Python hash(): hash(bytes) is
        # PYTHONHASHSEED-randomized per process, so a hash()-based CAS
        # match token would only be valid within one interpreter and a
        # cross-process CAS drill over this double would always lose
        # (ADVICE r9).
        return _stable_token(self.cat_file(path))

    def modified(self, path):
        key = self._norm(path)
        if key not in self._mtimes:
            raise FileNotFoundError(path)
        return datetime.fromtimestamp(self._mtimes[key], tz=timezone.utc)

    # ---- namespace (prefix LISTs — no real directories) ----
    def isdir(self, path):
        key = self._norm(path)
        if key in self._dirs:
            return True
        pfx = self._children_prefix(path)
        return any(k.startswith(pfx) for k in self._store)

    def ls(self, path, detail=False):
        key = self._norm(path)
        if key in self._store:  # fsspec: ls of a file is [the file]
            return [self.info(key)] if detail else [key]
        pfx = self._children_prefix(path)
        children = set()
        for k in self._store:
            if k.startswith(pfx):
                children.add(pfx + k[len(pfx):].split("/", 1)[0])
        for d in self._dirs:
            if d.startswith(pfx):
                children.add(pfx + d[len(pfx):].split("/", 1)[0])
        if not children and not self.isdir(path) and key not in self._dirs:
            raise FileNotFoundError(path)
        if detail:
            return [self.info(c) for c in sorted(children)]
        return sorted(children)

    def walk(self, path):
        base = self._norm(path)
        pfx = base + "/"
        dirs_of: dict[str, set] = {"": set()}
        files_of: dict[str, list] = {"": []}
        for k in sorted(self._store):
            if not k.startswith(pfx):
                continue
            rel = k[len(pfx):]
            parts = rel.split("/")
            d = ""
            for p in parts[:-1]:
                dirs_of.setdefault(d, set()).add(p)
                files_of.setdefault(d, [])
                d = f"{d}/{p}" if d else p
                dirs_of.setdefault(d, set())
                files_of.setdefault(d, [])
            files_of.setdefault(d, []).append(parts[-1])
            dirs_of.setdefault(d, set())
        for d in sorted(dirs_of):
            root = base if not d else f"{base}/{d}"
            yield root, sorted(dirs_of[d]), sorted(files_of.get(d, []))

    def makedirs(self, path, exist_ok=False):
        key = self._norm(path)
        if not exist_ok and key in self._dirs:
            raise FileExistsError(path)
        self._dirs.add(key)

    def open(self, path, mode="rb"):
        import io

        key = self._norm(path)
        if "r" in mode:
            return io.BytesIO(self.cat_file(key))
        if "x" in mode and key in self._store:
            raise FileExistsError(path)
        outer = self

        class _Writer(io.BytesIO):
            def close(self):
                if "x" in mode:
                    if not outer.put_if_absent(key, self.getvalue()):
                        raise FileExistsError(path)
                else:
                    outer.pipe_file(key, self.getvalue())
                super().close()

            def __exit__(self, *exc):
                self.close()

        return _Writer()

    # ---- mutation ----
    def mv(self, src, dst, recursive=False):
        skey, dkey = self._norm(src), self._norm(dst)
        with self._mutex:
            if skey in self._store:
                self._store[dkey] = self._store.pop(skey)
                self._mtimes[dkey] = self._mtimes.pop(skey)
                return
            moved = False
            pfx = skey + "/"
            for k in [k for k in self._store if k.startswith(pfx)]:
                nk = dkey + "/" + k[len(pfx):]
                self._store[nk] = self._store.pop(k)
                self._mtimes[nk] = self._mtimes.pop(k)
                moved = True
            if not moved:
                raise FileNotFoundError(src)

    def rm_file(self, path):
        key = self._norm(path)
        with self._mutex:
            if key not in self._store:
                raise FileNotFoundError(path)
            del self._store[key]
            self._mtimes.pop(key, None)

    def rm(self, path, recursive=False):
        key = self._norm(path)
        with self._mutex:
            if key in self._store:
                del self._store[key]
                self._mtimes.pop(key, None)
                return
            pfx = key + "/"
            hits = [k for k in self._store if k.startswith(pfx)]
            if hits and not recursive:
                raise IsADirectoryError(path)
            if not hits and key not in self._dirs:
                raise FileNotFoundError(path)
            for k in hits:
                del self._store[k]
                self._mtimes.pop(k, None)
            self._dirs.discard(key)
