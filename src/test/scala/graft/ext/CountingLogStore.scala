package graft.ext

/** LogStore wrapper counting every log read and listing — the
  * observables the log-I/O bounds are specified against. */
final class CountingLogStore(inner: LogStore) extends LogStore {
  val reads = new java.util.concurrent.atomic.AtomicInteger(0)
  val listed = new java.util.concurrent.atomic.AtomicInteger(0)
  override def list(dir: org.apache.hadoop.fs.Path) = { listed.incrementAndGet(); inner.list(dir) }
  override def read(path: org.apache.hadoop.fs.Path) = { reads.incrementAndGet(); inner.read(path) }
  override def writeIfAbsent(path: org.apache.hadoop.fs.Path, content: String) =
    inner.writeIfAbsent(path, content)
  override def delete(path: org.apache.hadoop.fs.Path) = inner.delete(path)
}
