"""Session helpers: make the package importable on executors + tuned defaults.

Pandas UDFs reference module-level functions, which cloudpickle serializes *by
reference* — executors must be able to ``import sparkrdf``. Under
``spark-submit --py-files sparkrdf.zip`` that's automatic; for interactive /
driver-embedded use, :func:`ensure_pyfiles` ships the package to executors via
``sc.addPyFile`` (idempotent per application).

This module also owns the compiled JVM UDFs: the Java sources, the jar they
build into (:func:`ensure_farmhash_jar`) and the per-session registry that
says which of them run (:func:`jvm_udfs`), and the one way the package runs
independent Spark jobs at the same time (:func:`run_concurrently`).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import warnings
import zipfile

_SHIPPED: set[str] = set()


def _write_atomic(path: str, write) -> None:
    """``write(tmp)`` into a temp file of this writer's own next to ``path``,
    then rename it over ``path``: concurrent writers never share a partial
    file, and readers see the old file or the new one."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path) or ".", suffix=".tmp")
    os.close(fd)
    try:
        write(tmp)
        os.chmod(tmp, 0o644)  # mkstemp's 0600 would hide a shared cache
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def _digest(parts) -> str:
    """Short content key over (name, bytes) pairs."""
    h = hashlib.sha256()
    for name, data in parts:
        h.update(f"{name}\0{len(data)}\0".encode())
        h.update(data)
    return h.hexdigest()[:16]


def package_zip(path: str | None = None) -> str:
    """Zip the sparkrdf package (sources only) for --py-files / addPyFile.

    Without ``path`` the zip is cached in tmp under a name keyed on the
    sources' content, so a cached zip always holds these sources; a given
    ``path`` is always rewritten."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    srcs = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.join("sparkrdf", os.path.relpath(full, pkg_dir))
                with open(full, "rb") as fh:
                    srcs.append((rel, fh.read()))
    srcs.sort()  # os.walk's directory order is the filesystem's
    if path is None:
        path = os.path.join(tempfile.gettempdir(), f"sparkrdf-pyfiles-{_digest(srcs)}.zip")
        if os.path.exists(path):
            return path

    def write(tmp):
        with zipfile.ZipFile(tmp, "w") as z:
            for rel, data in srcs:
                z.writestr(rel, data)

    _write_atomic(path, write)
    return path


def ensure_pyfiles(spark) -> None:
    """Ship the package to executors once per application (no-op afterwards)."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED:
        return
    try:
        sc.addPyFile(package_zip())
    except Exception:
        # already added with a different path, or a cluster that forbids it —
        # --py-files at submit time is the production path anyway
        pass
    _SHIPPED.add(app)


_FARMHASH_JAVA = """\
package sparkrdf;

import com.google.common.hash.Hashing;
import java.nio.charset.StandardCharsets;
import org.apache.spark.sql.api.java.UDF1;

/**
 * FarmHash Fingerprint64 document key as a JVM UDF: unsigned-decimal string
 * of Guava's farmHashFingerprint64 over the UTF-8 bytes — byte-identical to
 * the reference's str(farmhash.Fingerprint64(id)) and to the vendored
 * Python implementation (pinned by tests/test_hashing.py against this very
 * Guava function). Running the hash in the JVM keeps the statement stream
 * out of the Python workers entirely — no Arrow round-trip on the hot path.
 */
public class FarmHashKey implements UDF1<String, String> {
    @Override
    public String call(String s) {
        if (s == null) {
            return null;
        }
        long h = Hashing.farmHashFingerprint64()
                .hashString(s, StandardCharsets.UTF_8)
                .asLong();
        return Long.toUnsignedString(h);
    }
}
"""

_VECOPS_JAVA = """\
package sparkrdf;

import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Seq;

/**
 * Exact-fold vector dot product as a compiled JVM loop. Floating-point
 * semantics are IDENTICAL to the Catalyst higher-order-function form
 * aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v):
 * left-to-right accumulation starting at +0.0, element widening
 * float->double (exact), and the zip_with null contract reproduced — a
 * NULL array, a NULL element, or a length mismatch (zip_with null-pads
 * the shorter side, so the product and therefore the whole fold go NULL)
 * all yield NULL. The point is per-pair cost: the Catalyst HOF path is
 * interpreted per element (CodegenFallback); this is a JIT-compiled loop.
 */
public class VecDot implements UDF2<Seq<Object>, Seq<Object>, Double> {
    @Override
    public Double call(Seq<Object> a, Seq<Object> b) {
        if (a == null || b == null || a.size() != b.size()) {
            return null;
        }
        int n = a.size();
        double acc = 0.0;
        for (int i = 0; i < n; i++) {
            Object x = a.apply(i);
            Object y = b.apply(i);
            if (x == null || y == null) {
                return null;
            }
            acc += ((Number) x).doubleValue() * ((Number) y).doubleValue();
        }
        return acc;
    }
}
"""

_VECSQD_JAVA = """\
package sparkrdf;

import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Seq;

/**
 * Exact-fold squared euclidean distance (companion of VecDot): identical
 * floating-point semantics to aggregate(zip_with(a, b,
 * (x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v).
 */
public class VecSqDist implements UDF2<Seq<Object>, Seq<Object>, Double> {
    @Override
    public Double call(Seq<Object> a, Seq<Object> b) {
        if (a == null || b == null || a.size() != b.size()) {
            return null;
        }
        int n = a.size();
        double acc = 0.0;
        for (int i = 0; i < n; i++) {
            Object x = a.apply(i);
            Object y = b.apply(i);
            if (x == null || y == null) {
                return null;
            }
            double d = ((Number) x).doubleValue() - ((Number) y).doubleValue();
            acc += d * d;
        }
        return acc;
    }
}
"""


_JAVA_SOURCES = {
    "FarmHashKey": _FARMHASH_JAVA,
    "VecDot": _VECOPS_JAVA,
    "VecSqDist": _VECSQD_JAVA,
}


def _jar_complete(path: str) -> bool:
    try:
        with zipfile.ZipFile(path) as z:
            names = set(z.namelist())
    except (OSError, zipfile.BadZipFile):
        return False
    return all(f"sparkrdf/{cls}.class" in names for cls in _JAVA_SOURCES)


def ensure_farmhash_jar() -> str | None:
    """Compile the JVM UDFs (FarmHashKey, VecDot, VecSqDist) into a jar,
    cached in tmp under a name keyed on the three Java sources; a cached jar
    is reused only when it holds all three classes. Returns None when no
    javac is available or the compile fails — :func:`jvm_udfs` then reports
    the Python/Catalyst fallbacks."""
    import shutil
    import subprocess

    javac = shutil.which("javac")
    if javac is None:
        return None
    key = _digest((cls, src.encode()) for cls, src in _JAVA_SOURCES.items())
    jar_path = os.path.join(tempfile.gettempdir(), f"sparkrdf-farmhash-{key}.jar")
    if _jar_complete(jar_path):
        return jar_path
    import pyspark

    spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    try:
        with tempfile.TemporaryDirectory() as tmp:
            src_dir = os.path.join(tmp, "sparkrdf")
            os.makedirs(src_dir)
            srcs = []
            for cls, code in _JAVA_SOURCES.items():
                src = os.path.join(src_dir, f"{cls}.java")
                with open(src, "w", encoding="utf-8") as f:
                    f.write(code)
                srcs.append(src)
            out = os.path.join(tmp, "classes")
            os.makedirs(out)
            subprocess.run(
                [javac, "-cp", os.path.join(spark_jars, "*"), "-d", out, *srcs],
                check=True,
                capture_output=True,
                timeout=120,
            )

            def write(tmp_jar):
                with zipfile.ZipFile(tmp_jar, "w") as z:
                    for root, _dirs, files in os.walk(out):
                        for fn in sorted(files):
                            full = os.path.join(root, fn)
                            z.write(full, os.path.relpath(full, out))

            _write_atomic(jar_path, write)
    except (OSError, subprocess.SubprocessError):
        return None
    return jar_path


_REGISTRY: dict[tuple, frozenset[str]] = {}


def jvm_udfs(spark) -> frozenset[str]:
    """SQL names of the JVM UDFs registered and probe-verified on ``spark``.

    Registration is session-scoped (Structured Streaming's foreachBatch hands
    its callback a cloned session), so the answer is cached per
    (application, JVM session): the Python wrapper object is recreated per
    getActiveSession() call and cannot be the key. All UDFs are checked in
    one probe query; every UDF that is missing or fails its probe is named
    in one warning, and its callers take their Python/Catalyst fallback."""
    key = (spark.sparkContext.applicationId, spark._jsparkSession.hashCode())
    if key in _REGISTRY:
        return _REGISTRY[key]
    from sparkrdf.hashing import fingerprint64

    # SQL name -> (Java class, return type, probe that must be true). The
    # probes pin what the callers rely on: FarmHashKey equals the vendored
    # Fingerprint64 on non-ASCII UTF-8; VecDot widens float to double before
    # multiplying and goes NULL on a length mismatch.
    fh_probe = "sparkrdf check é中"
    f32 = "CAST(CAST({} AS FLOAT) AS DOUBLE)".format
    specs = {
        "sparkrdf_fh": (
            "sparkrdf.FarmHashKey", "string",
            f"sparkrdf_fh('{fh_probe}') = '{fingerprint64(fh_probe)}'",
        ),
        "sparkrdf_vdot": (
            "sparkrdf.VecDot", "double",
            "sparkrdf_vdot(array(1.5D, 2.5D), array(2.0D, 4.0D)) = 13.0D"
            " AND sparkrdf_vdot(array(1.0D), array(1.0D, 2.0D)) IS NULL"
            " AND sparkrdf_vdot(array(CAST(0.1 AS FLOAT)), array(CAST(0.3 AS FLOAT)))"
            f" = {f32(0.1)} * {f32(0.3)}",
        ),
        "sparkrdf_vsqd": (
            "sparkrdf.VecSqDist", "double",
            "sparkrdf_vsqd(array(1.0D, 3.0D), array(2.0D, 1.0D)) = 5.0D",
        ),
    }
    errors: dict[str, str] = {}
    for name, (cls, rtype, _probe) in specs.items():
        try:
            spark.udf.registerJavaFunction(name, cls, rtype)
        except Exception as e:  # class not on the classpath: fall back
            errors[name] = type(e).__name__
    live = [n for n in specs if n not in errors]
    if live:
        try:
            row = spark.sql(
                "SELECT " + ", ".join(f"{specs[n][2]} AS {n}" for n in live)
            ).first()
        except Exception as e:  # a UDF that throws: fall back
            errors.update(dict.fromkeys(live, type(e).__name__))
        else:
            errors.update({n: "wrong probe value" for n in live if row[n] is not True})
    if errors:
        warnings.warn(
            "sparkrdf: JVM UDFs unavailable, using the Python/Catalyst fallback for "
            + ", ".join(f"{n} ({specs[n][0]}: {why})" for n, why in sorted(errors.items())),
            RuntimeWarning,
            stacklevel=2,
        )
    ok = frozenset(n for n in specs if n not in errors)
    _REGISTRY[key] = ok
    return ok


def run_concurrently(*fns) -> list:
    """Call each of ``fns`` on its own driver thread; return their results
    in argument order.

    The threads are ``pyspark.InheritableThread``\\ s: each starts with the
    caller's local properties (job group, job description, scheduler pool),
    so a job started from a thread is attributed exactly as if the caller
    had started it. Every thread is joined before anything is raised; then
    the first failure in argument order is re-raised. Spark's scheduler runs
    the threads' jobs side by side, so jobs that are each too small to fill
    the cluster overlap instead of queueing behind each other."""
    from pyspark import InheritableThread

    results: list = [None] * len(fns)
    errors: list = [None] * len(fns)

    def call(i):
        try:
            results[i] = fns[i]()
        except BaseException as e:  # re-raised on the caller's thread
            errors[i] = e

    threads = [InheritableThread(target=call, args=(i,)) for i in range(len(fns))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results


def _shm_has_headroom(min_free_bytes: int = 8 << 30) -> bool:
    """tmpfs is capped (~50% RAM): redirecting shuffle/spill there without a
    capacity check trades disk-speed wins for no-space-left failures. Only
    use /dev/shm when it has real headroom; SPARKRDF_NO_SHM=1 opts out."""
    try:
        st = os.statvfs("/dev/shm")
        return st.f_bavail * st.f_frsize >= min_free_bytes
    except OSError:
        return False


def get_spark(app_name: str = "sparkrdf", master: str | None = None, **extra_conf):
    """Opinionated local/session builder with the scale-oriented defaults:
    AQE (incl. skew-join splitting), sane shuffle partitioning, Arrow enabled,
    no per-call Python call-site capture.
    """
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARKRDF_DRIVER_MEM", "8g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the per-batch Python handoff (worker
        # dispatch, factorize setup) in the hash/NER UDFs — the measured
        # residual in the 2→8-core scaling gap (BENCH.md); 64k string rows
        # is still only ~10-20 MB per batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # no Python call-site capture per DataFrame/Column call: PySpark
        # otherwise pays ~6 py4j round trips (active-session lookups, a
        # conf read, an origin set and clear) on every F.* call, which is
        # most of the driver time spent building the pipeline's plans. Pass
        # it back as "true" through ``extra_conf`` to get Python call sites
        # in query-context error messages (PySpark reads it once per
        # process, at the first call made while a session is active).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Local mode only: shuffle/spill to tmpfs when available. A single
    # shared disk is an Amdahl term that caps multi-core scaling; RAM-backed
    # scratch scales with cores. Real clusters manage SPARK_LOCAL_DIRS
    # themselves (per-node SSD arrays), so never override there.
    is_local = (master or "").startswith("local") or (
        not master and not os.environ.get("SPARK_MASTER")
    )
    if (
        is_local
        and "spark.local.dir" not in extra_conf
        and not os.environ.get("SPARKRDF_NO_SHM")
        and os.access("/dev/shm", os.W_OK)
        and _shm_has_headroom()
    ):
        shm = "/dev/shm/sparkrdf-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    # JVM UDF jar: spark.jars ships it to executors; the driver needs it on
    # its own classpath BEFORE JVM launch for jvm_udfs to resolve the
    # classes (on a real cluster, pass --jars at submit; jvm_udfs reports
    # the fallbacks otherwise)
    fh_jar = ensure_farmhash_jar()
    if fh_jar:
        prior = extra_conf.get("spark.jars", "")
        extra_conf["spark.jars"] = f"{prior},{fh_jar}" if prior else fh_jar
        prior_cp = extra_conf.get("spark.driver.extraClassPath", "")
        extra_conf["spark.driver.extraClassPath"] = (
            f"{prior_cp}:{fh_jar}" if prior_cp else fh_jar
        )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_pyfiles(spark)
    return spark
