package graft.sources

import org.apache.hadoop.conf.Configuration

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** The session's Hadoop configuration (credentials, endpoints, FS
  * implementations) as one broadcast, for every task that opens a file
  * through the Hadoop FS: the `imagedir` scan and the image sinks.
  * Serializing its thousand-odd entries costs 9-14 ms per broadcast, so
  * the broadcast is reused while the context lives and the
  * configuration's entries equal the ones it holds; comparing them
  * entry by entry costs well under a millisecond. After a
  * `hadoopConfiguration.set` the next caller broadcasts afresh, and the
  * old broadcast is left to the context cleaner once no plan holds it.
  */
private[graft] object HadoopConfBroadcast {
  private final case class Shipped(sc: SparkContext, entries: java.util.Map[String, String],
                                   conf: Broadcast[SerializableConfiguration])
  private var shipped: Option[Shipped] = None

  private def entries(conf: Configuration): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    conf.forEach(e => m.put(e.getKey, e.getValue))
    m
  }

  def apply(sc: SparkContext): Broadcast[SerializableConfiguration] = synchronized {
    shipped match {
      case Some(s) if (s.sc eq sc) && !sc.isStopped && s.entries == entries(sc.hadoopConfiguration) =>
        s.conf
      case _ =>
        // a copy, so the broadcast holds exactly the entries compared
        val copy = new Configuration(sc.hadoopConfiguration)
        val s = Shipped(sc, entries(copy), sc.broadcast(new SerializableConfiguration(copy)))
        shipped = Some(s)
        s.conf
    }
  }
}
