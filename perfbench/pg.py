"""Loopback PostgreSQL server for the ``pg-to-delta`` load.

The server is provisioned with ``initdb`` under a non-root system user
(PostgreSQL refuses to run as root), listens on 127.0.0.1 only, and is
seeded with ``psql \\copy`` before any timing starts.  ``stop`` shuts it
down and removes its directory; ``run.py`` calls it from a ``finally``
block and from its SIGTERM handler, so a failed run does not leave a
server behind.
"""

from __future__ import annotations

import os
import pwd
import shutil
import socket
import subprocess
import tempfile
import time

RUN_USER = "postgres"


class PgUnavailable(RuntimeError):
    """No server could be started; callers count the pg operations failed."""


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgServer:
    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.base: str | None = None
        self.port = 0
        self.user = ""
        self.data = ""

    # -- lifecycle --------------------------------------------------------
    def _run(self, cmd: list[str], timeout: float = 60) -> subprocess.CompletedProcess:
        if os.geteuid() == 0:
            cmd = ["su", self.user, "-s", "/bin/sh", "-c", " ".join(cmd)]
        return subprocess.run(
            cmd, capture_output=True, text=True, cwd=self.base, timeout=timeout
        )

    def _make_base(self) -> str:
        """A directory the server user can reach: the benchmark's own work
        directory when its parents are traversable by that user, else
        ``/tmp``."""
        for parent in (self.work_dir, "/tmp"):
            base = tempfile.mkdtemp(prefix="pg_", dir=parent)
            os.chmod(base, 0o777)
            if os.geteuid() != 0:
                return base
            probe = subprocess.run(
                ["su", self.user, "-s", "/bin/sh", "-c", f"test -w {base}"],
                capture_output=True,
            )
            if probe.returncode == 0:
                return base
            shutil.rmtree(base, ignore_errors=True)
        raise PgUnavailable(f"no directory writable by {self.user!r}")

    def start(self) -> str:
        if shutil.which("initdb") is None or shutil.which("pg_ctl") is None:
            raise PgUnavailable("no PostgreSQL server binaries")
        if os.geteuid() == 0:
            try:
                pwd.getpwnam(RUN_USER)
            except KeyError as exc:
                raise PgUnavailable(f"no non-root user {RUN_USER!r}") from exc
            self.user = RUN_USER
        else:
            self.user = pwd.getpwuid(os.geteuid()).pw_name
        self.base = self._make_base()
        self.data = os.path.join(self.base, "data")
        self.port = _free_port()
        r = self._run(["initdb", "-D", self.data, "-A", "trust", "-U", self.user, "--no-sync"])
        if r.returncode:
            raise PgUnavailable(f"initdb failed: {r.stderr[-300:]}")
        log = os.path.join(self.base, "pg.log")
        opts = (
            f"-p {self.port} -k {self.base} -c listen_addresses=127.0.0.1 "
            "-c fsync=off -c synchronous_commit=off -c full_page_writes=off"
        )
        r = self._run(["pg_ctl", "-D", self.data, "-l", log, "-w", "-o", f"'{opts}'", "start"])
        if r.returncode:
            raise PgUnavailable(f"pg_ctl start failed: {r.stderr[-300:]}")
        return self.url

    @property
    def url(self) -> str:
        return f"postgresql://{self.user}@127.0.0.1:{self.port}/postgres"

    def postmaster_pid(self) -> int | None:
        try:
            with open(os.path.join(self.data, "postmaster.pid")) as fh:
                return int(fh.readline())
        except (OSError, ValueError):
            return None

    def stop(self) -> None:
        if self.base is None:
            return
        pid = self.postmaster_pid()
        if pid is not None:
            self._run(["pg_ctl", "-D", self.data, "-m", "immediate", "-w", "stop"])
            deadline = time.monotonic() + 20
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
        shutil.rmtree(self.base, ignore_errors=True)
        self.base = None

    # -- seeding ----------------------------------------------------------
    def psql(self, *args: str) -> None:
        r = subprocess.run(
            ["psql", "-X", "-q", "-v", "ON_ERROR_STOP=1", "-h", "127.0.0.1",
             "-p", str(self.port), "-U", self.user, "-d", "postgres", *args],
            capture_output=True, text=True, timeout=120,
        )
        if r.returncode:
            raise PgUnavailable(f"psql failed: {r.stderr[-300:]}")

    def seed(self, table: str, ddl: str, csv_path: str) -> None:
        """Create ``table`` and load it from ``csv_path`` client-side."""
        self.psql("-c", f"CREATE TABLE {table} ({ddl})")
        self.psql("-c", f"\\copy {table} FROM '{csv_path}' WITH (FORMAT csv)")
        self.psql("-c", f"ANALYZE {table}")
