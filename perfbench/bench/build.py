"""Build the program and the harness from source (sbt, offline), once per
source state, and hand back the runtime classpath."""
import hashlib
import os
import signal
import subprocess

# Everything the build reads, relative to the checkout root.
SOURCES = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
           "perfbench/project", "perfbench/src/main"]


def source_files(root):
    for rel in SOURCES:
        path = os.path.join(root, rel)
        if os.path.isfile(path):
            yield rel
            continue
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                yield os.path.relpath(os.path.join(d, f), root)


def stamp(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env(build_dir):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # also reaches the launcher's own `java -version` probe, which would
    # otherwise leave perf data under the system temp dir
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return env


def run_group(cmd, timeout, **kwargs):
    """subprocess.run in its own process group; on timeout the whole group
    (a launcher script and the JVM it started) is killed and reaped before
    TimeoutExpired propagates."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kwargs)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return subprocess.CompletedProcess(cmd, proc.returncode, out)


def ensure_built(root, build_dir, log):
    """Classpath of the built harness; builds when the sources changed."""
    os.makedirs(build_dir, exist_ok=True)
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    want = stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    with open(log, "w") as out:
        proc = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            timeout=880, cwd=os.path.join(root, "perfbench"), env=sbt_env(build_dir),
            stdout=subprocess.PIPE, stderr=out, text=True)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        raise RuntimeError(f"build failed (exit {proc.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1].strip()
