"""Build file of the benchmark.

Compiles the library (src/main/scala) together with the benchmark's own
sources (pipebench/src) with the Scala compiler that ships in Spark's jar
directory, packs the classes into one jar, and records a class-data
sharing archive of the classes the three workloads load (one training
run of each, in one JVM). Every benchmark JVM maps that archive, so no
run spends its set-up on class loading. The result is cached under
.bench_build/pipebench/, keyed by the content of every source.

Run it alone to build: python3 pipebench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
CACHE = os.path.join(ROOT, ".bench_build", "pipebench")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """MemTotal / 2, clamped to [2, 8] GiB, as the test suite's driver memory."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(8, max(2, int(line.split()[1]) // 2097152))
    return 2


def jvm(out, work, extra):
    """The benchmark JVM's command line up to the main class."""
    # no hsperfdata file in /tmp: a run writes only inside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx%dg" % heap_gb(), "-Xss8m"] + extra
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return cmd + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + tmp,
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
        "-Dderby.system.home=" + work,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.path.join(out, "pipebench.jar") + os.pathsep + os.path.join(spark_jars(), "*"),
    ]


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit("pipebench: missing source directory %s" % os.path.relpath(d, ROOT))
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith((".scala", ".java")))
    return sorted(out)


def cache_key(srcs):
    h = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__), os.path.join(HERE, "log4j2.properties")]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()[:20]


def run(cmd, what, **kw):
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, **kw)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("pipebench: %s failed" % what)


def build():
    """Return the build directory (pipebench.jar, app.jsa), building it unless cached.

    The archive records the jar's path, so the build happens in place
    and a marker file says that it finished."""
    srcs = sources()
    out = os.path.join(CACHE, "build-" + cache_key(srcs))
    done = os.path.join(out, "done")
    if os.path.isfile(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    try:
        args_file = os.path.join(out, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs) + "\n")
        run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + args_file],
            "compile")
        # class-data sharing archives classes from jars only
        with zipfile.ZipFile(os.path.join(out, "pipebench.jar"), "w", zipfile.ZIP_STORED) as z:
            for base, _, files in os.walk(classes):
                for f in sorted(files):
                    p = os.path.join(base, f)
                    z.write(p, os.path.relpath(p, classes))
        shutil.rmtree(classes)
        work = os.path.join(out, "train")
        run(jvm(out, work, ["-XX:ArchiveClassesAtExit=" + os.path.join(out, "app.jsa")]) +
            ["pipebench.Train", "--work", work, "--cores", str(cores()),
             "--launched-ns", str(time.time_ns())], "training run", cwd=work)
        shutil.rmtree(work)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    open(done, "w").close()
    # builds of other source versions are not reused; drop them
    for old in os.listdir(CACHE):
        if old.startswith("build-") and os.path.join(CACHE, old) != out:
            shutil.rmtree(os.path.join(CACHE, old), ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
