package org.apache.spark

import java.io.{ByteArrayInputStream, ObjectInputStream, ObjectStreamClass}

import org.apache.spark.storage.BroadcastBlockId

/** The specs' view of the broadcasts the driver's block manager holds,
  * which Spark keeps private to its own packages.
  */
object BroadcastBlocks {

  /** Broadcast id -> value, for every broadcast whose value the driver
    * holds. A job's task binary is an `Array[Byte]` value.
    */
  def values(): Map[Long, Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap {
      case id: BroadcastBlockId =>
        bm.getLocalValues(id).map(r => id.broadcastId -> r.data.toList.head)
      case _ => None
    }.toMap
  }

  /** `value` as the driver's serializer writes a broadcast of it. */
  def serialized(value: Any): Array[Byte] = {
    val buf = SparkEnv.get.serializer.newInstance().serialize(value)
    val bytes = new Array[Byte](buf.remaining())
    buf.get(bytes)
    bytes
  }

  /** The classes of the objects in `bytes`, one Java-serialized object
    * graph such as a task binary, read back: of every instance, not of
    * class objects (a `ClassTag` names a class without holding one).
    */
  def classesIn(bytes: Array[Byte]): Set[Class[_]] = instancesIn(bytes).keySet

  /** [[classesIn]] with the number of instances of each class. */
  def instancesIn(bytes: Array[Byte]): Map[Class[_], Int] = {
    val seen = scala.collection.mutable.Map.empty[Class[_], Int].withDefaultValue(0)
    val loader = Thread.currentThread.getContextClassLoader
    val in = new ObjectInputStream(new ByteArrayInputStream(bytes)) {
      enableResolveObject(true)
      override def resolveClass(d: ObjectStreamClass): Class[_] =
        try Class.forName(d.getName, false, loader)
        catch { case _: ClassNotFoundException => super.resolveClass(d) }
      override def resolveObject(o: AnyRef): AnyRef = { seen(o.getClass) += 1; o }
    }
    try in.readObject() finally in.close()
    seen.toMap
  }
}
