"""Builds the engine and the harness from the checkout's sources with sbt,
once per source state, and returns the harness's runtime classpath."""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

HARNESS = Path(__file__).resolve().parent / "harness"


def _sources(root):
    files = [root / "build.sbt", root / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for base in (root / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def _digest(root):
    h = hashlib.sha256()
    for p in _sources(root):
        h.update(str(p.relative_to(root)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath(root, out_dir):
    """The harness classpath, building first if the sources changed."""
    out_dir.mkdir(parents=True, exist_ok=True)
    stamp, cp_file = out_dir / "stamp", out_dir / "classpath"
    digest = _digest(root)
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log = out_dir / "sbt.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = log.read_text().strip().splitlines()
    if r.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(f"perfbench: build failed, see {log}\n")
        sys.exit(3)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()
