package perfbench

/** catalog_sync: the movies catalog's read side ([[CatalogServe]], for
  * about `--seconds`) then its write side ([[SyncMerge]], three sync
  * batches into a state of the same shape). The two run one after
  * the other in one JVM; neither touches the streaming, datax or
  * functions layers. */
final class CatalogSync(val ctx: Ctx) extends Workload {
  private val read = new CatalogServe(ctx)
  private val write = new SyncMerge(ctx)

  override def generate(dir: String): Unit = {
    read.generate(s"$dir/catalog")
    write.generate(s"$dir/sync")
  }
  override def warm(): Unit = { read.warm(); write.warm() }
  override def measure(): Unit = { read.measure(); write.measure() }
  override def check(): Unit = { read.check(); write.check() }
  override def e2e: Map[String, Double] = read.e2e ++ write.e2e
  override def layer: Map[String, Double] = read.layer ++ write.layer
  override def wallSeconds: Double = read.wallSeconds + write.wallSeconds
}
