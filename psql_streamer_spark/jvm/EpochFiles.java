package psqlstreamer;

import java.io.IOException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.mapreduce.Job;
import org.apache.hadoop.mapreduce.TaskAttemptContext;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.execution.datasources.OutputWriter;
import org.apache.spark.sql.execution.datasources.OutputWriterFactory;
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat;
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.StructType;

/**
 * Every file output of one CDC epoch from one Spark write.
 *
 * <p>The epoch's rows arrive tagged: one row per (event, output it belongs
 * to), with the output's number in {@code _out} and, for a partitioned sink,
 * the partition value in {@code _p}. {@link #write} writes them with
 * {@code partitionBy("_out", "_p")} into a stage directory through Spark's
 * own commit protocol, and {@link #publish} then moves each output's
 * committed files into its sink's layout. As a file format, this class is Spark's parquet format,
 * except that each {@code _out} directory gets only its own output's
 * columns, in its own order: the files, their footers and their read
 * schema are those the sink's own {@code write.parquet} would leave.
 *
 * <p>Each output is one line of the {@code outputs} argument of both, with four
 * tab-separated fields; its number is its line number, from 0. First how the
 * output lands:
 *
 * <ul>
 *   <li>{@code replace}: the target directory is replaced by the output's
 *       files and a {@code _SUCCESS} marker, in one directory rename.
 *   <li>{@code append}: the files are moved into the target directory (into
 *       {@code col=value/} under it when the third field names the
 *       partition column {@code col}), and the target's {@code _SUCCESS}
 *       is written again, as an append job does.
 * </ul>
 *
 * then the target directory, the partition column or an empty field, and the
 * JSON of the schema the sink's own write would give its files: the columns
 * in their order, each with its nullability.
 */
public class EpochFiles extends ParquetFileFormat {
  static final String OUTPUTS = "psqlstreamer.epochfiles.outputs";

  /** Names the write in plans and the event log, which say "Parquet" otherwise. */
  @Override
  public String toString() {
    return "EpochFiles";
  }

  /**
   * Writes {@code tagged} into the directory {@code stage} in one Spark job.
   * Unless {@code stale} is null, first deletes the directories that glob
   * names: the stages that a run of the same writer left behind when it
   * failed before its {@link #publish}.
   */
  public static void write(Dataset<Row> tagged, String stage, String outputs, String stale)
      throws IOException {
    if (stale != null) {
      Path glob = new Path(stale);
      FileSystem fs = glob.getFileSystem(tagged.sparkSession().sessionState().newHadoopConf());
      FileStatus[] found = fs.globStatus(glob);
      for (FileStatus s : found == null ? new FileStatus[0] : found) {
        fs.delete(s.getPath(), true);
      }
    }
    tagged.write().format(EpochFiles.class.getName()).partitionBy("_out", "_p")
        .option(OUTPUTS, outputs).save(stage);
  }

  /**
   * Moves every output's files from the written {@code stage} into place and
   * deletes the stage. Returns the numbers of the outputs that got no rows,
   * comma-separated: their targets are left as they were. Raises when the
   * stage holds no committed write, which would read as every output empty.
   */
  public static String publish(SparkSession spark, String stage, String outputs)
      throws IOException {
    Path stageDir = new Path(stage);
    Configuration conf = spark.sessionState().newHadoopConf();
    FileSystem fs = stageDir.getFileSystem(conf);
    boolean marked = conf.getBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true);
    if (!fs.exists(marked ? new Path(stageDir, "_SUCCESS") : stageDir)) {
      throw new IOException("no committed write in " + stage);
    }
    StringBuilder empty = new StringBuilder();
    Output[] parsed = Output.parse(outputs);
    for (int out = 0; out < parsed.length; out++) {
      Path rows = new Path(stageDir, "_out=" + out);
      if (!fs.exists(rows)) {
        empty.append(empty.length() == 0 ? "" : ",").append(out);
      } else if (parsed[out].replace) {
        replace(fs, new Path(rows, "_p=" + DEFAULT_PARTITION), parsed[out].target);
      } else {
        append(fs, rows, parsed[out].target, parsed[out].column);
      }
    }
    fs.delete(stageDir, true);
    return empty.toString();
  }

  private static final String DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__";

  private static void replace(FileSystem fs, Path files, Path target) throws IOException {
    fs.create(new Path(files, "_SUCCESS"), true).close();
    fs.delete(target, true);
    fs.mkdirs(target.getParent());
    if (!fs.rename(files, target)) {
      throw new IOException("cannot rename " + files + " to " + target);
    }
  }

  private static void append(FileSystem fs, Path rows, Path target, String column)
      throws IOException {
    for (FileStatus part : fs.listStatus(rows)) {
      String value = part.getPath().getName().substring("_p=".length());
      Path dir = column.isEmpty() ? target : new Path(target, column + "=" + value);
      fs.mkdirs(dir);
      for (FileStatus file : fs.listStatus(part.getPath())) {
        Path to = new Path(dir, file.getPath().getName());
        if (!fs.rename(file.getPath(), to)) {
          throw new IOException("cannot rename " + file.getPath() + " to " + to);
        }
      }
    }
    fs.create(new Path(target, "_SUCCESS"), true).close();
  }

  @Override
  public OutputWriterFactory prepareWrite(
      SparkSession spark,
      Job job,
      scala.collection.immutable.Map<String, String> options,
      StructType dataSchema) {
    OutputWriterFactory parquet = super.prepareWrite(spark, job, options, dataSchema);
    Output[] parsed = Output.parse(options.apply(OUTPUTS));
    int[][] ordinals = new int[parsed.length][];
    StructType[] schemas = new StructType[parsed.length];
    for (int out = 0; out < parsed.length; out++) {
      schemas[out] = parsed[out].schema;
      String[] names = schemas[out].fieldNames();
      ordinals[out] = new int[names.length];
      for (int i = 0; i < names.length; i++) {
        ordinals[out][i] = dataSchema.fieldIndex(names[i]);
      }
    }
    return new Factory(parquet, ordinals, schemas);
  }

  /** One line of the {@code outputs} argument. */
  static final class Output {
    final boolean replace;
    final Path target;
    final String column;
    final StructType schema;

    private Output(String[] f) {
      replace = f[0].equals("replace");
      target = new Path(f[1]);
      column = f[2];
      schema = (StructType) DataType.fromJson(f[3]);
    }

    static Output[] parse(String outputs) {
      String[] lines = outputs.split("\n");
      Output[] parsed = new Output[lines.length];
      for (int out = 0; out < lines.length; out++) {
        parsed[out] = new Output(lines[out].split("\t", -1));
      }
      return parsed;
    }
  }

  /** Parquet's writer factory, handing each {@code _out} its own columns. */
  static final class Factory extends OutputWriterFactory {
    private final OutputWriterFactory parquet;
    private final int[][] ordinals;
    private final StructType[] schemas;

    Factory(OutputWriterFactory parquet, int[][] ordinals, StructType[] schemas) {
      this.parquet = parquet;
      this.ordinals = ordinals;
      this.schemas = schemas;
    }

    @Override
    public String getFileExtension(TaskAttemptContext context) {
      return parquet.getFileExtension(context);
    }

    /**
     * The parquet writer reads the schema it writes from the task's
     * configuration when it is made, so the task's own configuration takes
     * each file's output schema just before its writer is made. A task makes
     * its writers one at a time, on its own thread, so no file needs a copy
     * of the configuration (over a thousand entries).
     */
    @Override
    public OutputWriter newInstance(String path, StructType dataSchema, TaskAttemptContext context) {
      int at = path.lastIndexOf("/_out=") + "/_out=".length();
      int out = Integer.parseInt(path.substring(at, path.indexOf('/', at)));
      ParquetWriteSupport.setSchema(schemas[out], context.getConfiguration());
      OutputWriter file = parquet.newInstance(path, schemas[out], context);
      return new Projected(file, ordinals[out], schemas[out]);
    }
  }

  /** Writes the columns {@code ordinals} of each row. */
  static final class Projected extends OutputWriter {
    private final OutputWriter file;
    private final int[] ordinals;
    private final DataType[] types;
    private final Object[] values;
    private final GenericInternalRow row;

    Projected(OutputWriter file, int[] ordinals, StructType schema) {
      this.file = file;
      this.ordinals = ordinals;
      this.types = new DataType[ordinals.length];
      for (int i = 0; i < ordinals.length; i++) {
        types[i] = schema.fields()[i].dataType();
      }
      this.values = new Object[ordinals.length];
      this.row = new GenericInternalRow(values);
    }

    @Override
    public void write(InternalRow in) {
      for (int i = 0; i < ordinals.length; i++) {
        values[i] = in.isNullAt(ordinals[i]) ? null : in.get(ordinals[i], types[i]);
      }
      file.write(row);
    }

    @Override
    public void close() {
      file.close();
    }

    @Override
    public String path() {
      return file.path();
    }
  }
}
