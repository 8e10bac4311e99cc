package graft.io

import org.apache.hadoop.conf.Configuration

/** Hadoop Configuration is not Serializable; this wrapper round-trips it
  * through its own write/readFields wire format so tasks see the exact
  * session configuration (a bare `new Configuration()` on the executor
  * would drop `spark.hadoop.*` settings — object-store credentials,
  * custom filesystems — so listing would work and opening would not).
  * Shipped by [[SplitFiles.launch]] and by the sinks ([[Bam.write]],
  * [[Warc.write]]).
  */
private[io] final class SerializableHadoopConf(
    @transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}
