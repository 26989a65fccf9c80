package graft

import com.esotericsoftware.kryo.Kryo
import org.apache.spark.serializer.KryoRegistrator

import graft.fold.TypedTask
import graft.ops.UpdateAlgebra._

/** Kryo registration for the typed op-algebra pipeline.
  *
  * `Encoders.kryo[TypedTask]` carries the whole op ADT through the
  * entity-fold shuffle; without registration Kryo writes the FULLY QUALIFIED
  * CLASS NAME of every op, wrapper, and collection per record — at 10x-scale
  * ingest that is most of the shuffle bytes and a large share of the
  * serialize CPU. Registering the closed set of classes replaces each name
  * with a varint id. [[GraftSession.local]], the in-repo session, wires it
  * with:
  *
  * {{{ .config("spark.kryo.registrator", "graft.GraftKryoRegistrator") }}}
  *
  * Registration is an optimization only — unregistered classes still
  * serialize (registrationRequired stays false), so foreign sessions that
  * skip the config remain correct.
  */
class GraftKryoRegistrator extends KryoRegistrator {
  override def registerClasses(kryo: Kryo): Unit = {
    kryo.register(classOf[TypedTask])
    kryo.register(classOf[SetVal])
    kryo.register(classOf[Append])
    kryo.register(classOf[AddToSet])
    kryo.register(classOf[ExtendSet])
    kryo.register(classOf[RemFromSet])
    kryo.register(classOf[AddNum])
    kryo.register(classOf[SubNum])
    kryo.register(classOf[SetMax])
    kryo.register(classOf[SetMin])
    kryo.register(classOf[RemoveKey])
    kryo.register(classOf[NextStep])
    kryo.register(classOf[ArrayUpdate])
    kryo.register(classOf[ArrayUpsert])
    kryo.register(classOf[ArrayRemove])
    kryo.register(classOf[Event])
    // the container shapes the ops ride in
    kryo.register(classOf[Array[UpdateOp]])
    kryo.register(classOf[scala.collection.immutable.$colon$colon[_]])
    kryo.register(scala.collection.immutable.Nil.getClass)
    kryo.register(classOf[scala.Tuple2[_, _]])
    kryo.register(classOf[Array[scala.Tuple2[_, _]]])
  }
}
