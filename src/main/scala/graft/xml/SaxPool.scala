package graft.xml

import javax.xml.parsers.{SAXParser, SAXParserFactory}

/** Thread-local SAX parser pool of the RDF/XML decoder ([[RdfXmlParser]]).
  *
  * SAXParserFactory.newInstance performs a synchronized service-loader
  * lookup and Xerces' parser.reset() re-allocates its feature state —
  * both are measured multi-x throughput killers when done per document
  * at 16-32 cores. One factory and one parser per thread; a parser that
  * aborted mid-parse must be discarded via [[invalidate]].
  */
object SaxPool {

  private val localFactory = new ThreadLocal[SAXParserFactory] {
    override def initialValue(): SAXParserFactory = {
      val factory = SAXParserFactory.newInstance()
      factory.setNamespaceAware(false)
      factory.setValidating(false)
      factory.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      factory.setFeature("http://xml.org/sax/features/external-general-entities", false)
      factory.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
      factory
    }
  }

  private val localParser = new ThreadLocal[SAXParser] {
    override def initialValue(): SAXParser = localFactory.get().newSAXParser()
  }

  /** Borrow this thread's parser. Safe to reuse after a COMPLETED parse;
    * call [[invalidate]] when a parse threw.
    */
  def parser(): SAXParser = localParser.get()

  /** Discard this thread's parser after an aborted parse. */
  def invalidate(): Unit = localParser.remove()
}
