package graft.catalog

import scala.util.Try

import graft.schema.ConfigValue
import graft.schema.ConfigValue._

/** Catalog abstraction over the SciCat REST surface the ingest pipeline
  * touches (ref: src/scicat_communication.py:14-236):
  *
  *  - SC-variable GET + field projection (J1, `retrieve_value_from_scicat`),
  *  - sample query by (name, proposalId) (J2, `query_sample`),
  *  - exists-by-pid / exists-by-metadata dedup probes (F6/F7,
  *    `check_dataset_by_pid` / `check_dataset_by_metadata`),
  *  - dataset / origdatablock creation (K1/K2,
  *    `create_scicat_dataset` / `create_scicat_origdatablock`).
  *
  * Implementations must be Serializable: the engine ships the catalog
  * to EXECUTORS and performs lookups/posts inside partitions, so a
  * 1000-executor cluster fans REST traffic out instead of funnelling it
  * through the driver. [[LocalCatalog]] is the in-memory/test
  * implementation; [[HttpScicatCatalog]] speaks real HTTP.
  */
trait Catalog extends Serializable {

  /** GET + optional single-field projection, result as JSON text
    * (ref: scicat_communication.py:14-24). None = lookup failed →
    * downstream F11 nulling, never a batch failure. */
  def lookupJson(url: String, field: String): Option[String]

  /** J2: sampleIds matching (name, proposalId)
    * (ref: scicat_communication.py:134-158). */
  def querySamples(name: String, proposalId: String): Seq[String]

  /** F6 probe (ref: scicat_communication.py:161-193; non-OK responses
    * other than 404 log a warning and assume "does not exist"). */
  def datasetExists(pid: String): Boolean

  /** F7 probe on `scientificMetadata.<key>.value`
    * (ref: scicat_communication.py:196-236). */
  def metadataValueExists(key: String, value: String): Boolean

  /** All known pids when the catalog is enumerable (in-memory), letting
    * F6 run as a broadcast anti-join with zero per-row probes; None for
    * REST catalogs, where the engine falls back to executor-side
    * per-distinct-value probes. */
  def enumeratePids: Option[Set[String]] = None

  /** Enumerable F7 twin of [[enumeratePids]]. */
  def enumerateMetadataValues(key: String): Option[Set[String]] = None

  /** K1: create a dataset document; returns the backend's response
    * document. MUST raise on a non-OK backend response
    * (ref: scicat_communication.py:49-82 ScicatDatasetAPIError). */
  def createDataset(datasetJson: String): String

  /** K2: create an origdatablock document; raises on non-OK
    * (ref: scicat_communication.py:89-122 ScicatOrigDatablockAPIError). */
  def createOrigDatablock(datablockJson: String): String

  /** J5: create a sample for (name, proposalId). Unlike the dataset
    * POSTs this only WARNS on failure (ref: post_sample,
    * src/scicat_sample_ingestor.py:96-115). */
  def createSample(sampleName: String, proposalId: String): Unit = ()
}

object Catalog {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The GET-response projection of every catalog (J1): the document,
    * or the JSON text of its top-level `field`. None when the document
    * does not parse or lacks the field: the variable nulls out (F11). */
  def projectField(doc: String, field: String): Option[String] =
    if (field == null || field.isEmpty) Some(doc)
    else Try(mapper.readTree(doc)).toOption.filter(_.isObject)
      .flatMap(n => Option(n.get(field))).map(mapper.writeValueAsString)

  /** The sampleIds of an in-memory `samples/<name>/<proposalId>` entry,
    * a JSON array of strings; a malformed one holds none. */
  def sampleIds(doc: String): Seq[String] =
    Try(ConfigValue.fromJson(doc)).toOption.toSeq
      .flatMap { case CSeq(items) => items.collect { case CStr(s) => s }; case _ => Nil }
}
