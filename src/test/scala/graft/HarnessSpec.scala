package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the round-15 harness hardening (round-14 advisor items): the
  * executor-classpath absolutization, the overridden-scratch JVM token,
  * and the probe-corpus derivation sentinel. All pure / filesystem-local —
  * no Spark session. */
class HarnessSpec extends AnyFunSuite {

  test("absolutizedClassPath: relative entries resolve against the DRIVER's cwd") {
    val sep = ":"
    val out = Sessions.absolutizedClassPath(
      raw = s"target/scala-2.13/classes${sep}/opt/spark/jars/a.jar$sep${sep}../other",
      sep = sep)
    val parts = out.split(sep)
    assert(parts.forall(_.startsWith("/")), s"every entry absolute, got: $out")
    assert(parts.length == 3, "empty entries are dropped, not absolutized to cwd")
    assert(parts(1) == "/opt/spark/jars/a.jar", "absolute entries pass through")
    assert(parts(0).endsWith("/target/scala-2.13/classes"))
  }

  test("jvmToken: 8 lowercase hex chars, constant within the JVM") {
    val t = ScratchDirs.jvmToken
    assert(t.matches("[0-9a-f]{8}"), s"got '$t'")
    assert(ScratchDirs.jvmToken == t, "one token per JVM")
  }

  test("scratch owner suffix: local keeps the sweepable bare-pid form; " +
      "overridden adds host + token, catalog-identifier-safe") {
    val pid = ProcessHandle.current.pid
    assert(ScratchDirs.ownerFor(overridden = false) == s"p$pid",
      "local form must stay what sweepStale's liveness regex parses")
    val o = ScratchDirs.ownerFor(overridden = true)
    assert(o.matches(s"h[A-Za-z0-9_]+_p${pid}_j[0-9a-f]{8}"), s"got '$o'")
    // catalog-name safety: bucketed table names embed this suffix, and a
    // dot there is a namespace separator, a dash a non-identifier char
    assert(o.matches("[A-Za-z0-9_]+"), s"non-identifier chars in '$o'")
    assert(o.endsWith(s"_j${ScratchDirs.jvmToken}"),
      "the per-JVM token is the cross-container collision guard")
  }

  test("heapShrinkPinned: the manageable-flag pin lands on HotSpot (round-15 GC-bias fix)") {
    assert(HostMeter.heapShrinkPinned,
      "MaxHeapFreeRatio must be settable at runtime on this JVM — without it " +
        "the untimed pre-sample GC charges heap re-commit to timed regions")
    val server = java.lang.management.ManagementFactory.getPlatformMBeanServer
    val bean = new javax.management.ObjectName("com.sun.management:type=HotSpotDiagnostic")
    val opt = server.invoke(bean, "getVMOption",
      Array[AnyRef]("MaxHeapFreeRatio"), Array("java.lang.String"))
    assert(opt.toString.contains("value=100"), s"expected pinned value 100, got $opt")
  }

  test("derivation sentinel: consumers refuse an absent or mismatched corpus") {
    val xn = java.nio.file.Files.createTempDirectory("graft_deriv").toString
    // absent sentinel -> loud refusal with regeneration instructions
    val e1 = intercept[IllegalArgumentException](ScaleProbe.requireCurrentDerivation(xn))
    assert(e1.getMessage.contains("DERIVATION") || e1.getMessage.contains("derivation"))
    assert(e1.getMessage.contains("ScaleProbe"), "the error must say how to fix it")
    // stale version -> refusal (the advisor's exact scenario: a probe dir
    // generated under the old −0.03·r jitter silently reused)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$xn/DERIVATION"),
      "v1-jitter replicas=100\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException](ScaleProbe.requireCurrentDerivation(xn))
    // current version (any replica count) -> accepted
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$xn/DERIVATION"),
      s"${ScaleProbe.DerivationVersion} replicas=100\n".getBytes("UTF-8"))
    ScaleProbe.requireCurrentDerivation(xn)
  }

  test("derivationCurrent: full-generation gate = lineitem present AND sentinel matches") {
    val probe = java.nio.file.Files.createTempDirectory("graft_deriv2").toString
    assert(!ScaleProbe.derivationCurrent(probe), "empty dir regenerates")
    // sentinel alone is not enough — lineitem is the written-last marker.
    // XN is private; derive the path the same way main() does: x<replicas>,
    // default 10 unless SPARK_GRAFT_PROBE_REPLICAS is set in this JVM
    val xn = "x" + sys.env.getOrElse("SPARK_GRAFT_PROBE_REPLICAS", "10")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$probe/$xn"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$probe/$xn/DERIVATION"),
      s"${ScaleProbe.DerivationVersion} replicas=${xn.drop(1)}\n".getBytes("UTF-8"))
    assert(!ScaleProbe.derivationCurrent(probe),
      "sentinel without lineitem (interrupted generation) regenerates")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$probe/$xn/lineitem.parquet"))
    assert(ScaleProbe.derivationCurrent(probe))
  }
}
