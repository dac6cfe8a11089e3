package graft

/** Runs a main in a fresh JVM on this JVM's class path, for checks that
  * need a fresh SparkContext (static confs, another master) while this
  * JVM owns the shared test context. */
object Fork {
  // Spark 4.x on JDK 17 outside spark-submit (build.sbt's jdk17AddOpens)
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def classPath: String = System.getProperty("java.class.path")

  /** Exit code and merged stdout/stderr of `main args` with `env` added
    * to this process's environment. */
  def run(main: String, args: Seq[String] = Nil,
          env: Map[String, String] = Map.empty,
          xmx: String = "2g"): (Int, String) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++
      Seq(s"-Xmx$xmx", "-cp", classPath, main) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    val out = new StringBuilder
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var line = reader.readLine()
    while (line != null) { out.append(line).append('\n'); line = reader.readLine() }
    (proc.waitFor(), out.toString)
  }
}
