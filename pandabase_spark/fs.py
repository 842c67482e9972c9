"""Filesystem access through the Hadoop FileSystem API.

Every catalog/metadata operation goes through ``spark._jvm``'s Hadoop
``FileSystem``/``FileContext`` instead of ``os``/``shutil``, so a
warehouse path works identically on local disk, HDFS, or S3A — the
portability the reference gets for free from "the database is
elsewhere" (its only storage client is a SQLAlchemy engine,
reference:pandabase/helpers.py:67-81).

Atomicity notes:

- :meth:`write_text_atomic` stages to a temp file and renames with
  ``Options.Rename.OVERWRITE`` via ``FileContext`` — atomic on POSIX
  filesystems and HDFS. ``FileContext`` resolves schemes through
  ``AbstractFileSystem`` bindings, which S3A (and most object-store
  connectors) do not register by default; for those schemes the code
  falls back to non-atomic ``FileSystem.delete + rename``. On object
  stores a rename is copy+delete anyway (never atomic), so the
  fallback gives the same last-writer-wins consistency the
  single-writer manifest contract documents.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def unescape_partition(name: str) -> str:
    """Decode Hive-style partition-value escaping (``%XX``) in a
    directory name — Spark writes ``txn=app:0`` as ``txn=app%3A0``.
    Shared by every consumer that maps listed directory NAMES back to
    logical partition VALUES (Delta export).

    Escapes are decoded as BYTES and then UTF-8: Spark/Hive only
    escape ASCII specials, but other engines percent-encode the UTF-8
    bytes of non-ASCII values (``é`` -> ``%C3%A9``), and a per-escape
    ``chr()`` would decode those to Latin-1 mojibake (r13 advisory).
    Exactly ``urllib.parse.unquote`` semantics (no ``+``-to-space):
    undecodable byte runs fall back bytewise (surrogateescape), which
    round-trips whatever the directory actually contained."""
    from urllib.parse import unquote

    return unquote(name, errors="surrogateescape")


class HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs for one warehouse root."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        # decided once: whether scheme-less paths resolve locally (the
        # _local_os_path fast paths consult this per call)
        self._default_local = str(
            self._conf.get("fs.defaultFS") or "file:///"
        ).startswith("file:")

    def _jpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._jpath(p).getFileSystem(self._conf)

    def exists(self, p: str) -> bool:
        local = self._local_os_path(p)
        if local is not None:
            import os as _os

            return _os.path.exists(local)
        return self._fs(p).exists(self._jpath(p))

    def mkdirs(self, p: str) -> None:
        self._fs(p).mkdirs(self._jpath(p))

    def delete(self, p: str, recursive: bool = True) -> bool:
        return self._fs(p).delete(self._jpath(p), recursive)

    def list_dirs(self, p: str) -> list[str]:
        """Names (not full paths) of child directories of ``p``."""
        local = self._local_os_path(p)
        if local is not None:
            # direct POSIX listing: the py4j path costs TWO JVM round
            # trips per entry (getPath + getName), which turns a
            # 5,000-version log listing into seconds of driver stall
            # (measured in the r13 vacuum-scale run)
            import os as _os

            if not _os.path.isdir(local):
                return []
            with _os.scandir(local) as it:
                return sorted(e.name for e in it if e.is_dir())
        fs = self._fs(p)
        jp = self._jpath(p)
        if not fs.exists(jp):
            return []
        return sorted(
            s.getPath().getName()
            for s in fs.listStatus(jp)
            if s.isDirectory()
        )

    def list_files(self, p: str) -> list[str]:
        """Names (not full paths) of child FILES of ``p``."""
        local = self._local_os_path(p)
        if local is not None:
            import os as _os

            if not _os.path.isdir(local):
                return []
            with _os.scandir(local) as it:
                return sorted(e.name for e in it if e.is_file())
        fs = self._fs(p)
        jp = self._jpath(p)
        if not fs.exists(jp):
            return []
        return sorted(
            s.getPath().getName()
            for s in fs.listStatus(jp)
            if s.isFile()
        )

    def canonical(self, p: str) -> str:
        """Fully-qualified canonical URI for ``p``: scheme + authority
        + normalized absolute path via ``FileSystem.makeQualified``;
        local (``file:``) paths additionally resolve symlinks and
        ``..`` through ``os.path.realpath``. The same physical
        location always maps to ONE string however the caller spelled
        it — what an idempotence ledger needs for its keys."""
        q = self._fs(p).makeQualified(self._jpath(p))
        uri = q.toUri()
        if (uri.getScheme() or "file") == "file":
            import os

            return "file:" + os.path.realpath(uri.getPath())
        return q.toString()

    def rename_dir(self, src: str, dst: str) -> None:
        """Rename directory ``src`` onto ``dst`` (``FileSystem.rename``
        — atomic per directory on POSIX/HDFS; copy+delete on object
        stores). ``dst`` must not already exist; callers that want
        replace semantics delete it first. Raises on failure rather
        than returning Hadoop's silent ``false``."""
        fs = self._fs(src)
        if not fs.rename(self._jpath(src), self._jpath(dst)):
            raise IOError(f"rename {src} -> {dst} failed")

    def copy(self, src: str, dst: str) -> None:
        """Recursive copy ``src`` -> ``dst`` (FileUtil.copy, source
        kept). ``dst`` must not already exist — it becomes the copy."""
        FileUtil = self._jvm.org.apache.hadoop.fs.FileUtil
        if not FileUtil.copy(
            self._fs(src), self._jpath(src),
            self._fs(dst), self._jpath(dst),
            False, self._conf,
        ):
            raise IOError(f"copy {src} -> {dst} failed")

    def du(self, p: str) -> int:
        """Total bytes under ``p`` (0 if absent) — getContentSummary,
        one namenode call, no client-side recursion."""
        if not self.exists(p):
            return 0
        fs = self._fs(p)
        return fs.getContentSummary(self._jpath(p)).getLength()

    def mtime(self, p: str) -> float:
        """Last-modification time of ``p`` in epoch seconds (0.0 if
        absent) — one stat call; vacuum's staged-segment retention
        horizon uses it the way Delta's retention window uses file age."""
        local = self._local_os_path(p)
        if local is not None:
            import os as _os

            try:
                return _os.path.getmtime(local)
            except OSError:
                return 0.0
        if not self.exists(p):
            return 0.0
        fs = self._fs(p)
        return fs.getFileStatus(self._jpath(p)).getModificationTime() / 1000.0

    def read_text(self, p: str) -> str:
        local = self._local_os_path(p)
        if local is not None:
            # direct POSIX read: pairs with the os.replace/link(2)
            # write paths below — local text IO never goes through
            # Hadoop's ChecksumFileSystem, whose overwrite-rename is
            # delete-then-rename (a reader racing it sees the file
            # briefly MISSING; the two-driver race test caught exactly
            # that on the hint file)
            with open(local, "r", encoding="utf-8") as fh:
                return fh.read()
        # a py4j byte[] argument is passed by value, so readFully into a
        # Python buffer can't work — let the JVM produce the String
        fs = self._fs(p)
        stream = fs.open(self._jpath(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text_atomic(self, p: str, text: str) -> None:
        """Write ``text`` to ``p`` atomically (stage + rename). LOCAL
        paths stage with os.replace — POSIX rename(2), atomic both in
        content and in EXISTENCE (Hadoop's local overwrite-rename
        deletes the destination first, so concurrent readers see a
        missing-file window). Remote schemes keep the FileContext
        OVERWRITE rename (atomic on HDFS)."""
        import uuid

        local = self._local_os_path(p)
        if local is not None:
            import os as _os

            _os.makedirs(_os.path.dirname(local) or "/", exist_ok=True)
            ltmp = f"{local}.tmp-{uuid.uuid4().hex[:8]}"
            with open(ltmp, "w", encoding="utf-8") as fh:
                fh.write(text)
            _os.replace(ltmp, local)
            # drop any stale Hadoop checksum sidecar from a pre-POSIX
            # write of the same path — a later JVM read would fail
            # verification against the replaced contents
            crc = f"{_os.path.dirname(local)}/.{_os.path.basename(local)}.crc"
            if _os.path.exists(crc):
                try:
                    _os.unlink(crc)
                except OSError:
                    pass
            return

        tmp = f"{p}.tmp-{uuid.uuid4().hex[:8]}"
        fs = self._fs(tmp)
        out = fs.create(self._jpath(tmp), True)
        try:
            out.write(text.encode("utf-8"))
        finally:
            out.close()
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._jpath(tmp).toUri(), self._conf
            )
            # varargs over py4j need an explicit Java array
            gw = self._spark.sparkContext._gateway
            opts = gw.new_array(self._jvm.org.apache.hadoop.fs.Options.Rename, 1)
            opts[0] = self._jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
            fc.rename(self._jpath(tmp), self._jpath(p), opts)
        except Exception as ex:  # py4j wraps the Java exception
            # Schemes without an fs.AbstractFileSystem.<scheme>.impl
            # binding (s3a by default) can't go through FileContext —
            # fall back to delete+rename, non-atomic but equivalent on
            # object stores where rename is copy+delete regardless.
            if "UnsupportedFileSystemException" not in str(ex):
                raise
            jp, jtmp = self._jpath(p), self._jpath(tmp)
            if fs.exists(jp):
                fs.delete(jp, False)
            if not fs.rename(jtmp, jp):
                raise IOError(f"rename {tmp} -> {p} failed") from ex

    def _local_os_path(self, p: str) -> "str | None":
        """The os-level path when ``p`` resolves to the LOCAL
        filesystem (explicit ``file:`` URI, or a scheme-less path
        while ``fs.defaultFS`` is file/unset), else None. Lets
        primitives that need true POSIX atomicity (put-if-absent via
        link(2)) bypass the Hadoop local shim, which implements
        no-overwrite rename as check-then-act."""
        if p.startswith("file://"):
            return p[len("file://"):] or "/"
        if p.startswith("file:"):
            return p[len("file:"):]
        if "://" in p or p.startswith(("hdfs:", "s3a:", "s3:", "abfs")):
            return None
        return p if self._default_local else None

    def write_text_if_absent(self, p: str, text: str) -> bool:
        """Create ``p`` with ``text`` iff absent; False if ``p``
        already exists — put-if-absent, the primitive an optimistic
        commit protocol needs (Delta's log store contract).

        LOCAL paths use link(2): stage a temp file, hard-link it to
        the destination — the kernel rejects the link with EEXIST
        atomically, so two same-instant claimants get exactly one
        winner with complete contents (Hadoop's local no-overwrite
        rename is exists-then-rename, a check-then-act window the
        two-driver race test caught as a silently overwritten claim).
        HDFS uses FileContext rename WITHOUT the OVERWRITE option
        (namenode-atomic). Schemes with neither (object stores
        without conditional puts) fall back to exists-check + rename,
        best-effort, covered by the single-writer contract — same
        tradeoff as Delta on S3 without a coordinating log store."""
        import uuid

        local = self._local_os_path(p)
        if local is not None:
            import os as _os

            if _os.path.exists(local):
                return False
            _os.makedirs(_os.path.dirname(local) or "/", exist_ok=True)
            ltmp = f"{local}.tmp-{uuid.uuid4().hex[:8]}"
            with open(ltmp, "w", encoding="utf-8") as fh:
                fh.write(text)
            try:
                _os.link(ltmp, local)  # atomic; EEXIST when present
                return True
            except FileExistsError:
                return False
            except OSError:
                pass  # fs without hard links: fall through to JVM path
            finally:
                try:
                    _os.unlink(ltmp)
                except OSError:
                    pass

        if self.exists(p):
            return False
        tmp = f"{p}.tmp-{uuid.uuid4().hex[:8]}"
        fs = self._fs(tmp)
        out = fs.create(self._jpath(tmp), True)
        try:
            out.write(text.encode("utf-8"))
        finally:
            out.close()
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._jpath(tmp).toUri(), self._conf
            )
            gw = self._spark.sparkContext._gateway
            opts = gw.new_array(
                self._jvm.org.apache.hadoop.fs.Options.Rename, 1
            )
            opts[0] = self._jvm.org.apache.hadoop.fs.Options.Rename.NONE
            try:
                fc.rename(self._jpath(tmp), self._jpath(p), opts)
            except Exception as rex:
                if "AlreadyExists" in str(rex) or "already exists" in str(
                    rex
                ):
                    fs.delete(self._jpath(tmp), False)
                    return False
                raise
            return True
        except Exception as ex:
            if "UnsupportedFileSystemException" not in str(ex):
                # unexpected failure: don't leak the staged tmp file
                try:
                    fs.delete(self._jpath(tmp), False)
                except Exception:
                    pass
                raise
            jp, jtmp = self._jpath(p), self._jpath(tmp)
            if fs.exists(jp):
                fs.delete(jtmp, False)
                return False
            if not fs.rename(jtmp, jp):
                fs.delete(jtmp, False)
                return False
            return True
