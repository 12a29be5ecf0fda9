package graft

/** Second-JVM half of StagingSpec's two-JVM race: waits for the go file,
  * then publishes the same key as the test JVM with a slow plain-file
  * write, and prints how many builds it ran and the nonce it was served.
  *
  * Usage: PublishRaceMain <root> <source> <name> <goFile> */
object PublishRaceMain {
  def main(args: Array[String]): Unit = {
    val Array(root, source, name, go) = args
    val deadline = System.currentTimeMillis() + 60000L
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(go)) &&
           System.currentTimeMillis() < deadline) Thread.sleep(10L)
    val dir = Staging.publish(root, Staging.Key(source, name))(StagingSpec.slowWrite)
    println(s"builds=${Staging.buildCount.get()} nonce=${Staging.nonce(dir).getOrElse("")}")
  }
}
