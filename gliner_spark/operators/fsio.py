"""One filesystem route for the files beside Spark-written tables.

Spark reads and writes table DATA through Hadoop's ``FileSystem`` API.
The small files next to it — the publish markers of
``sinks.publish_atomic``, the listing and deletes of the checkpoint
manifest's fold, the existence probe of ``util.read_parquet_or_empty``
and the ``_FINGERPRINT`` stamp of ``bucketing.write_bucketed`` — go
through the same API, via ``fs_for``. So they land where Spark's own
read or write of the same path lands: a plain path resolves against
``fs.defaultFS`` (Hadoop's LocalFileSystem on one box, HDFS or viewfs
on a cluster), never against the driver's local disk while the data
went elsewhere.

Every file beside a table commits create-only (``_markers/``,
``_FINGERPRINT``) or append-only (manifest parts), never by a rename:
object stores emulate a rename as copy+delete, and a crash mid-copy
leaves a state no reader can tell from a committed one. So every op
here runs on every filesystem Spark writes to.

Hardlink reader pins (``HadoopFs.pin``) are the one part that needs
POSIX inode semantics, so they engage only when the handle's scheme is
``file`` and are the only ``os`` file calls of the package's table
code. Hadoop's LocalFileSystem is a ``ChecksumFileSystem``: every file
it writes gets a ``.<name>.crc`` sidecar, so listings select by name.
"""

from __future__ import annotations

import os
import time
import uuid

_PINS = "_pins"


class HadoopFs:
    """Marker and maintenance ops through
    ``org.apache.hadoop.fs.FileSystem`` — the bytes go wherever Spark's
    own writes for the same path go."""

    def __init__(self, spark, path: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._fs = self._p(path).getFileSystem(
            spark._jsc.hadoopConfiguration())
        self.scheme = str(self._fs.getScheme())

    def _p(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._p(p)))

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._p(p))

    def listdir(self, p: str) -> list[str]:
        return [st.getPath().getName()
                for st in self._fs.listStatus(self._p(p))]

    def delete(self, p: str) -> None:
        self._fs.delete(self._p(p), True)

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._p(p))
        try:
            return str(
                self._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            )
        finally:
            stream.close()

    def write_text(self, p: str, s: str, overwrite: bool = False) -> None:
        # FileSystem.create(path, overwrite=false) is the create-only
        # primitive: atomic visibility on HDFS, a single PUT on S3A
        out = self._fs.create(self._p(p), overwrite)
        try:
            out.write(bytearray(s.encode("utf-8")))
        finally:
            out.close()

    def join(self, *parts: str) -> str:
        return "/".join(x.rstrip("/") for x in parts[:-1]) + "/" + parts[-1]

    def _local(self, p: str) -> str:
        """The local path of ``p`` on a ``file`` handle."""
        return str(self._fs.makeQualified(self._p(p)).toUri().getPath())

    def pin(self, root: str, resolve) -> tuple[str, str | None]:
        """(read path, pin dir) of the version directory
        ``resolve(self, root)`` returns. On a ``file`` handle its files
        are hardlinked into a private ``root/_pins/<version>-<token>/``
        and the pin is read: a publish that prunes the version drops
        its names, not the bytes the pin references. A version pruned
        mid-link is resolved again, so the reader pins the newer one.
        Elsewhere (no hardlinks) the version is read directly and pin
        dir is None, as it is when the filesystem refuses the link."""
        if self.scheme != "file":
            return resolve(self, root), None
        for _ in range(16):
            vdir = resolve(self, root)
            token = uuid.uuid4().hex[:8]
            pin = self.join(root, _PINS, f"{vdir.rsplit('/', 1)[-1]}-{token}")
            src, dst = self._local(vdir), self._local(pin)
            try:
                os.makedirs(dst)
                for name in os.listdir(src):
                    os.link(os.path.join(src, name), os.path.join(dst, name))
                return pin, pin
            except FileNotFoundError:
                self.delete(pin)  # pruned mid-pin: re-resolve
            except OSError:
                self.delete(pin)
                return vdir, None
        raise RuntimeError(
            f"could not pin a published version under {root} after 16 "
            "attempts — publishes are outpacing the marker resolution"
        )

    def sweep_pins(self, root: str, ttl_s: float) -> None:
        """Delete the pins under ``root`` older than ``ttl_s``."""
        pins = self.join(root, _PINS)
        if not self.exists(pins):
            return
        cutoff_ms = (time.time() - ttl_s) * 1000
        for st in self._fs.listStatus(self._p(pins)):
            if st.getModificationTime() < cutoff_ms:
                # False when another sweeper removed it first
                self._fs.delete(st.getPath(), True)


def fs_for(spark, path: str) -> HadoopFs:
    """The filesystem handle Spark itself uses for ``path``."""
    return HadoopFs(spark, path)
